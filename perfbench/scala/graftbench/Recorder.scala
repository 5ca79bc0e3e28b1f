package graftbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A span of the benchmark's own timeline (a query phase, a parallel-map
  * call, a micro-batch) or of Spark's (a job, a stage, a task). Times are
  * epoch milliseconds. */
final case class Span(id: String, name: String, layer: String, start: Double, end: Double,
    parent: String, trace: String) {
  def ms: Double = end - start
}

final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, cpuMs: Double,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, inputBytes: Long,
    inputRows: Long, resultBytes: Long, retry: Boolean)
final case class JobRec(id: Int, span: String, start: Long, var end: Long, stages: Seq[Int])
final case class StageRec(id: Int, var submitted: Long, var completed: Long)

/** Spark listener plus span recorder, installed only in a traced run.
  *
  * It keeps every job, stage and task in memory, tags each job with the
  * benchmark span that was open on the submitting thread (a job-local
  * property), and writes the whole trace at the end. Untraced, `span`
  * just runs its body. */
final class Recorder(val traced: Boolean) extends SparkListener {
  private val ids = new AtomicInteger
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private var spark: SparkSession = _
  private val open = new ThreadLocal[List[String]] { override def initialValue = Nil }

  private val SpanKey = "graftbench.span"

  def install(s: SparkSession): Unit = { spark = s; s.sparkContext.addSparkListener(this) }

  def drain(): Unit = org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  private def newId(): String = s"s${ids.incrementAndGet()}"

  /** Run `body` as a span; jobs it submits are attributed to it. */
  def span[T](name: String, layer: String, trace: String)(body: => T): T = {
    if (!traced) return body
    val id = newId()
    val parent = open.get.headOption.getOrElse("")
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(SpanKey)
    open.set(id :: open.get)
    sc.setLocalProperty(SpanKey, id)
    val t0 = System.currentTimeMillis()
    val t0n = System.nanoTime()
    try body
    finally {
      val dur = (System.nanoTime() - t0n) / 1e6
      sc.setLocalProperty(SpanKey, before)
      open.set(open.get.tail)
      synchronized { spans += Span(id, name, layer, t0.toDouble, t0 + dur, parent, trace) }
    }
  }

  /** Record a span measured elsewhere (a micro-batch, from its progress). */
  def addSpan(s: Span): Unit = if (traced) synchronized { spans += s }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val batch = prop("streaming.sql.batchId")
    val span =
      if (batch.nonEmpty) s"batch:${prop("sql.streaming.queryId")}:$batch" else prop(SpanKey)
    synchronized {
      jobs(e.jobId) = JobRec(e.jobId, span, e.time, -1, e.stageIds)
      e.stageIds.foreach(s => stageSpan(s) = span)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val st = stages.getOrElseUpdate(i.stageId, StageRec(i.stageId, -1, -1))
    st.submitted = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach(_.completed = i.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    val t = Option(e.taskMetrics) match {
      case Some(x) =>
        TaskRec(e.stageId, ti.launchTime, ti.finishTime, x.executorRunTime,
          x.executorCpuTime / 1e6, x.jvmGCTime, x.shuffleWriteMetrics.bytesWritten,
          x.shuffleReadMetrics.totalBytesRead, x.memoryBytesSpilled + x.diskBytesSpilled,
          x.inputMetrics.bytesRead, x.inputMetrics.recordsRead, x.resultSize,
          ti.attemptNumber > 0 || ti.speculative)
      case None =>
        TaskRec(e.stageId, ti.launchTime, ti.finishTime, ti.duration, 0, 0, 0, 0, 0, 0, 0, 0,
          ti.attemptNumber > 0 || ti.speculative)
    }
    synchronized { tasks += t }
  }

  // ---- aggregation over the spans a layer owns ----

  def jobsOf(spanIds: Set[String]): Seq[JobRec] = synchronized {
    jobs.values.filter(j => spanIds.contains(j.span)).toSeq
  }
  def tasksOf(spanIds: Set[String]): Seq[TaskRec] = synchronized {
    tasks.filter(t => stageSpan.get(t.stage).exists(spanIds.contains)).toSeq
  }
  def stagesOf(spanIds: Set[String]): Seq[StageRec] = synchronized {
    stages.values.filter(s => stageSpan.get(s.id).exists(spanIds.contains)).toSeq
  }
  /** Stage submit to task launch, per task. */
  def taskWaitMs(ts: Seq[TaskRec]): Seq[Double] = synchronized {
    ts.flatMap(t => stages.get(t.stage).filter(_.submitted > 0).map(s => math.max(0L, t.launch - s.submitted).toDouble))
  }

  /** The trace file: our spans, with Spark's jobs, stages and tasks as
    * child spans, plus self time per layer and per trace. */
  def traceJson(extra: Seq[(String, String)]): String = synchronized {
    val sparkSpans = mutable.ArrayBuffer.empty[Span]
    val jobOfStage = mutable.HashMap.empty[Int, Int]
    jobs.values.foreach { j =>
      j.stages.foreach(s => jobOfStage(s) = j.id)
      if (j.end > 0) sparkSpans += Span(s"job${j.id}", s"job ${j.id}", "spark.job", j.start, j.end, j.span, "")
    }
    stages.values.foreach { s =>
      if (s.completed > 0)
        sparkSpans += Span(s"stage${s.id}", s"stage ${s.id}", "spark.stage", s.submitted, s.completed,
          jobOfStage.get(s.id).map(j => s"job$j").getOrElse(""), "")
    }
    tasks.zipWithIndex.foreach { case (t, i) =>
      sparkSpans += Span(s"task$i", s"task ${t.stage}", "spark.task", t.launch, t.finish, s"stage${t.stage}", "")
    }
    val children = spans.groupBy(_.parent)
    def self(s: Span): Double = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum
    val byLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> Json.num(ss.map(self).sum) }
    val byTrace = spans.groupBy(_.trace).map { case (t, ss) => t -> Json.num(ss.map(self).sum) }
    def js(s: Span) = Json.obj(Seq("id" -> Json.str(s.id), "name" -> Json.str(s.name),
      "layer" -> Json.str(s.layer), "start" -> Json.num(s.start), "end" -> Json.num(s.end),
      "parent" -> Json.str(s.parent), "trace" -> Json.str(s.trace)))
    Json.obj(extra ++ Seq(
      "self_ms_per_layer" -> Json.obj(byLayer),
      "self_ms_per_trace" -> Json.obj(byTrace),
      "spans" -> Json.arr((spans ++ sparkSpans).map(js))
    ))
  }
}
