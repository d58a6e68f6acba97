package graft.perfbench

import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Hooks

/** One traced interval. Times are epoch milliseconds (fractional), so the
  * harness's own spans and Spark's event times share one clock.
  */
final case class Span(id: Int, parent: Int, op: String, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

object Recorder {
  final case class Job(id: Int, phase: String, execId: Long, start: Double,
      var end: Double, var stages: Int = 0)

  /** Task and stage totals of one job. */
  final class Tally {
    var tasks, failedTasks, runMs, cpuNs = 0L
    var shWrite, shRead, spill, inBytes, inRows = 0L
    var lastTaskEnd = Double.NaN
  }
}

/** Benchmark-owned Spark listener: buffers job, stage, task and SQL
  * execution events until [[take]]. It is registered on traced passes
  * only. The closed loop runs one op at a time and drains the listener
  * bus after each, so everything buffered belongs to the op that just
  * finished; the `perfbench.phase` local property says whether a job ran
  * while the op constructed its frame or in the final action.
  */
final class Recorder extends SparkListener {
  import Recorder._
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tally = mutable.Map.empty[Int, Tally]
  private val sqlEnds = mutable.ArrayBuffer.empty[SparkListenerSQLExecutionEnd]

  private def tallyOf(stage: Int): Option[Tally] =
    stageJob.get(stage).map(j => tally.getOrElseUpdate(j, new Tally))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = Job(e.jobId, prop(Tracer.PhaseKey).getOrElse("action"),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      e.time.toDouble, e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
      for (t <- tallyOf(e.stageInfo.stageId); m <- Option(e.stageInfo.taskMetrics)) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.shWrite += m.shuffleWriteMetrics.bytesWritten
        t.shRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled
        t.inBytes += m.inputMetrics.bytesRead
        t.inRows += m.inputMetrics.recordsRead
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tallyOf(e.stageId).foreach { t =>
      t.tasks += 1
      if (e.reason != Success) t.failedTasks += 1
      val end = e.taskInfo.finishTime.toDouble
      t.lastTaskEnd = if (t.lastTaskEnd.isNaN) end else math.max(t.lastTaskEnd, end)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionEnd => synchronized { sqlEnds += x }
    case _ =>
  }

  /** Hand over and forget everything recorded so far. */
  def take(): (Seq[Job], Map[Int, Tally], Seq[SparkListenerSQLExecutionEnd]) =
    synchronized {
      val r = (jobs.values.toList, tally.toMap, sqlEnds.toList)
      jobs.clear(); stageJob.clear(); tally.clear(); sqlEnds.clear()
      r
    }
}

/** Span recorder and per-layer accounting for traced passes. Spans are
  * kept in memory and written out once, at the end of the run.
  */
final class Tracer(sc: SparkContext) {
  private val recorder = new Recorder
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Current epoch time in ms, from the monotonic clock. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span(parent: Int, op: String, name: String, start: Double, end: Double): Int = {
    spans += Span(spans.size, parent, op, name, start, end)
    spans.size - 1
  }

  def attach(): Unit = { recorder.take(); sc.addSparkListener(recorder) }

  def detach(): Unit = { Hooks.drain(sc); sc.removeSparkListener(recorder) }

  /** Attribute the engine events of the op that just finished: job, Catalyst
    * phase and commit spans go under its construct or action span, and the
    * op's layer sums are returned.
    */
  def finishOp(op: String, opSpan: Int, constructSpan: Int, actionSpan: Int,
      frame: Option[QueryExecution]): Map[String, Double] = {
    Hooks.drain(sc)
    val (jobs, tally, ends) = recorder.take()
    val constructEnd = spans(constructSpan).end
    def under(t: Double) = if (t < constructEnd) constructSpan else actionSpan
    jobs.foreach(j =>
      span(if (j.phase == "construct") constructSpan else actionSpan, op, s"job ${j.id}", j.start, j.end))
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def phaseSpans(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases(name) += p.durationMs
        span(under(p.startTimeMs.toDouble), op, name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    // the returned frame was analyzed while it was constructed; the sink's
    // command re-plans it in its own execution below
    frame.foreach(phaseSpans)
    var files, bytes, rows = 0L
    var commitMs = 0.0
    for (e <- ends; qe <- Hooks.queryExecution(e)) {
      phaseSpans(qe)
      val (f, b, r) = Hooks.written(qe)
      files += f; bytes += b; rows += r
      // commit: the last task of a write to the end of its execution
      // (job commit, file renames, metadata)
      val lastTask = jobs.filter(_.execId == e.executionId)
        .flatMap(j => tally.get(j.id)).map(_.lastTaskEnd).filterNot(_.isNaN)
      if (f > 0 && lastTask.nonEmpty) {
        val t0 = lastTask.max
        val t1 = math.max(t0, e.time.toDouble)
        commitMs += t1 - t0
        span(under(t0), op, "commit", t0, t1)
      }
    }
    val ts = tally.values.toSeq
    val execMs = Tracer.unionMs(jobs.map(j => (j.start, j.end)))
    Map(
      "construct.s" -> spans(constructSpan).dur / 1e3,
      "construct.jobs" -> jobs.count(_.phase == "construct").toDouble,
      "catalyst.analysis_s" -> phases("analysis") / 1e3,
      "catalyst.optimization_s" -> phases("optimization") / 1e3,
      "catalyst.planning_s" -> phases("planning") / 1e3,
      "exec.s" -> execMs / 1e3,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> jobs.map(_.stages).sum.toDouble,
      "exec.tasks" -> ts.map(_.tasks).sum.toDouble,
      "exec.executor_run_s" -> ts.map(_.runMs).sum / 1e3,
      "exec.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.driver_gap_s" -> math.max(0.0, spans(opSpan).dur - execMs) / 1e3,
      "exec.shuffle_write_mb" -> ts.map(_.shWrite).sum / 1e6,
      "exec.shuffle_read_mb" -> ts.map(_.shRead).sum / 1e6,
      "exec.spill_mb" -> ts.map(_.spill).sum / 1e6,
      "exec.input_mb" -> ts.map(_.inBytes).sum / 1e6,
      "exec.input_rows" -> ts.map(_.inRows).sum.toDouble,
      "exec.failed_tasks" -> ts.map(_.failedTasks).sum.toDouble,
      "sink.commit_s" -> commitMs / 1e3,
      "sink.files" -> files.toDouble,
      "sink.output_mb" -> bytes / 1e6,
      "sink.output_rows" -> rows.toDouble)
  }

  /** Spans as JSON lines, each with its self time: its duration minus the
    * part of it that its children cover.
    */
  def spanLines(): Seq[String] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = Tracer.unionMs(kids.getOrElse(s.id, Nil).toSeq
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a })
      Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "dur_ms" -> s.dur,
        "self_ms" -> math.max(0.0, s.dur - covered))
    }
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      } else curE = math.max(curE, b)
    }
    if (open) total += curE - curS
    total
  }
}

/** Minimal JSON writer for the harness's flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)
}
