package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spans and Spark execution facts of a traced run.
  *
  * Spans come from the benchmark's own code, around each op and each
  * call it makes into an engine layer. Spark jobs and stages become
  * child spans of the innermost benchmark span that was open when they
  * started; with one client thread, time containment identifies the op
  * without relying on thread-local job properties (engine code may
  * submit jobs from its own pool threads). Everything stays in memory
  * and is written once, when the run ends. */
final class Tracer(spark: SparkSession) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Wall clock in epoch nanoseconds, monotone within the run. */
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  final class SpanRec(val id: Int, val parent: Int, val op: Int, val name: String,
      val t0: Long) { var t1: Long = t0 }

  final class OpRec(val id: Int, val kind: String, val cls: String, val span: SpanRec) {
    val notes = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var counters: Map[String, Long] = Map.empty
    var exec: Exec = Exec()
    def wallS: Double = (span.t1 - span.t0) / 1e9
  }

  /** Task-level totals of the jobs one op (or one span) ran. */
  case class Exec(jobs: Int = 0, stages: Int = 0, tasks: Long = 0, taskS: Double = 0,
      cpuS: Double = 0, gcS: Double = 0, bytesRead: Long = 0, recordsRead: Long = 0,
      bytesWritten: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
      jobUnionS: Double = 0)

  private final class JobRec(val id: Int, val startMs: Long, val stageIds: Seq[Int]) {
    var endMs: Long = startMs
  }
  private final class StageRec(val id: Int) {
    var name = ""; var submitMs = 0L; var doneMs = 0L
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var bytesRead = 0L; var recordsRead = 0L; var written = 0L
    var shW = 0L; var shR = 0L; var spill = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]
  private var stack: List[SpanRec] = Nil
  private var current: Option[OpRec] = None

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += new JobRec(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId))
      s.name = e.stageInfo.name
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId))
      s.doneMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
        s.tasks += 1; s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.bytesRead += m.inputMetrics.bytesRead; s.recordsRead += m.inputMetrics.recordsRead
        s.written += m.outputMetrics.bytesWritten
        s.shW += m.shuffleWriteMetrics.bytesWritten
        s.shR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        s.spill += m.diskBytesSpilled
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  def beginOp(id: Int, kind: String, cls: String): Unit = {
    val s = new SpanRec(spans.size, -1, id, kind, now())
    spans += s
    stack = List(s)
    current = Some(new OpRec(id, kind, cls, s))
    current.foreach(_.counters = graft.core.Stats.countersSnapshot)
  }

  def endOp(): Unit = current.foreach { o =>
    o.span.t1 = now()
    val after = graft.core.Stats.countersSnapshot
    o.counters = after.map { case (k, v) => k -> (v - o.counters.getOrElse(k, 0L)) }
      .filter(_._2 != 0L)
    ops += o
    stack = Nil
    current = None
  }

  def span[T](name: String)(body: => T): T = current match {
    case None => body
    case Some(o) =>
      val s = new SpanRec(spans.size, stack.head.id, o.id, name, now())
      spans += s
      stack = s :: stack
      try body finally { s.t1 = now(); stack = stack.tail }
  }

  def note(key: String, v: Double): Unit = current.foreach(o => o.notes(key) += v)

  /** Planning phases (analysis, optimization, planning) Spark's
    * QueryPlanningTracker recorded for an executed DataFrame. */
  def phases(df: DataFrame): Unit = current.foreach { o =>
    df.queryExecution.tracker.phases.foreach { case (k, p) => o.phases(k) += p.durationMs / 1e3 }
  }

  /** Drain the listener bus, attribute jobs to traced ops and spans. */
  def finish(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val tol = 1000000L
    synchronized {
      val spansByOp = spans.groupBy(_.op)
      for (o <- ops) {
        val mine = jobs.filter { j =>
          val t = j.startMs * 1000000L
          t >= o.span.t0 - tol && t <= o.span.t1 + tol
        }.toSeq
        o.exec = execOf(mine)
        for (j <- mine) {
          val t = j.startMs * 1000000L
          val parent = spansByOp(o.id).filter(s => t >= s.t0 - tol && t <= s.t1 + tol)
            .maxBy(_.t0)
          jobSpans += ((parent.id, o.id, j))
        }
        spanJobs ++= spansByOp(o.id).map(s => s.id -> mine.count { j =>
          val t = j.startMs * 1000000L
          t >= s.t0 - tol && t <= s.t1 + tol
        })
      }
    }
  }
  private val jobSpans = mutable.ArrayBuffer.empty[(Int, Int, JobRec)]
  private val spanJobs = mutable.Map.empty[Int, Int]

  private def execOf(js: Seq[JobRec]): Exec = {
    val ss = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
    val ran = ss.filter(_.tasks > 0)
    // union of job intervals: the time the op had work on the executors
    val iv = js.map(j => (j.startMs, math.max(j.endMs, j.startMs))).sortBy(_._1)
    var union = 0L; var curS = -1L; var curE = -1L
    for ((s, e) <- iv) {
      if (s > curE) { if (curE >= 0) union += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) union += curE - curS
    Exec(js.size, ran.size, ran.map(_.tasks).sum, ran.map(_.runMs).sum / 1e3,
      ran.map(_.cpuNs).sum / 1e9, ran.map(_.gcMs).sum / 1e3, ran.map(_.bytesRead).sum,
      ran.map(_.recordsRead).sum, ran.map(_.written).sum, ran.map(_.shW).sum, ran.map(_.shR).sum,
      ran.map(_.spill).sum, union / 1e3)
  }

  def tracedOps: Seq[OpRec] = ops.toSeq
  def opsOf(kinds: String*): Seq[OpRec] = ops.filter(o => kinds.contains(o.kind)).toSeq
  /** Durations (s) of every span with this name in traced ops. */
  def spanS(name: String): Seq[Double] =
    spans.filter(s => s.name == name && s.parent >= 0).map(s => (s.t1 - s.t0) / 1e9).toSeq
  /** Spark jobs started inside each span with this name. */
  def spanJobCounts(name: String): Seq[Double] =
    spans.filter(s => s.name == name && s.parent >= 0).map(s => spanJobs.getOrElse(s.id, 0).toDouble).toSeq

  /** Span tree as JSON: ops, benchmark layer spans, Spark jobs and stages. */
  def toJson: String = {
    def rel(ns: Long) = (ns - baseMs * 1000000L) / 1e6
    val b = new StringBuilder("[")
    var first = true
    def add(id: String, parent: String, op: Int, name: String, kind: String, s: Double, e: Double): Unit = {
      if (!first) b.append(",\n"); first = false
      b.append(s"""{"id":"$id","parent":${if (parent == null) "null" else "\"" + parent + "\""},""" +
        s""""op":$op,"name":${Json.str(name)},"kind":"$kind","start_ms":$s,"end_ms":$e}""")
    }
    for (s <- spans) add(s"s${s.id}", if (s.parent < 0) null else s"s${s.parent}", s.op, s.name,
      if (s.parent < 0) "op" else "layer", rel(s.t0), rel(s.t1))
    for ((p, op, j) <- jobSpans) {
      add(s"j${j.id}", s"s$p", op, s"job ${j.id}", "job", rel(j.startMs * 1000000L), rel(j.endMs * 1000000L))
      for (sid <- j.stageIds; st <- stages.get(sid) if st.tasks > 0)
        add(s"st$sid", s"j${j.id}", op, st.name, "stage", rel(st.submitMs * 1000000L), rel(st.doneMs * 1000000L))
    }
    b.append("]\n").toString
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  /** Full precision; a value that was never measured renders as null. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
