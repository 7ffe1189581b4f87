package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** In-memory span recorder for the traced run. Spans are recorded by the
  * benchmark around its calls into each layer; a registered SparkListener
  * attributes every Spark job (and its tasks' metrics) to the span open
  * when the job started, labelled by the engine method that submitted it.
  * Nothing is written until the run ends. */
final class Tracer extends SparkListener {

  final class Span(val id: Int, val parent: Int, val name: String,
                   val startMs: Long) {
    @volatile var endMs: Long = -1L
    def durS: Double = (endMs - startMs) / 1000.0
  }

  final class Job(val id: Int, val startMs: Long, val label: String,
                  val span: Int) {
    @volatile var endMs: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var input = 0L
    var spill = 0L
  }

  val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stack = mutable.Stack[Span]()

  /** Run `f` inside a span named `name`, child of the innermost open one. */
  def span[T](name: String)(f: => T): T = {
    val s = synchronized {
      val sp = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        name, System.currentTimeMillis())
      spans += sp
      stack.push(sp)
      sp
    }
    try f finally synchronized {
      s.endMs = System.currentTimeMillis()
      stack.pop()
    }
  }

  /** SQL execution id -> label of the call site that started it. */
  private val executions = mutable.HashMap[Long, String]()

  /** Phase of a job from its call site: the Replay phase whose method is
    * on the engine part of the stack, else the innermost engine frame. */
  private def labelOf(details: String): String = {
    val frames = details.split("\n").map(_.trim).filter(f =>
      f.startsWith("graft.") && !f.startsWith("graft.perfbench")).toSeq
    def has(m: String) = frames.exists(_.contains(m))
    if (has("collectStats")) "stats"
    else if (has("writeDataFiles")) "merge_write"
    else if (has("mergeApplyDeferred")) "fold"
    else frames.headOption.map(_.takeWhile(_ != '(')).getOrElse("other")
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(executions(s.executionId) = labelOf(s.details))
    case _ =>
  }

  /** A job's label: the call site of the SQL execution it belongs to (its
    * stages may run on adaptive-execution threads with no engine frame),
    * else its own call site. */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      .map(_.toLong).flatMap(executions.get).filter(_ != "other")
    val label = prop("spark.sql.execution.id").orElse(prop("spark.sql.execution.root.id"))
      .getOrElse(labelOf(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")))
    jobs(e.jobId) = new Job(e.jobId, e.time, label, stack.headOption.map(_.id).getOrElse(-1))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)
         if e.taskMetrics != null) {
      val m = e.taskMetrics
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.input += m.inputMetrics.bytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def allJobs: Seq[Job] = synchronized(jobs.values.toSeq)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def jobsOf(s: Span): Seq[Job] = allJobs.filter(_.span == s.id)

  /** Seconds of [startMs, endMs) covered by the union of `ivs`. */
  def covered(startMs: Long, endMs: Long, ivs: Seq[(Long, Long)]): Double = {
    var t = startMs
    var sum = 0L
    ivs.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > t) { sum += b - math.max(a, t); t = b }
      }
    sum / 1000.0
  }

  /** A span's self time: its duration minus what its child spans and its
    * own Spark jobs cover. */
  def selfS(s: Span): Double = s.durS - covered(s.startMs, s.endMs,
    children(s).map(c => (c.startMs, c.endMs)) ++
      jobsOf(s).map(j => (j.startMs, j.endMs)))

  /** Span tree as JSON lines (written once, after the run). */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val js = jobsOf(s)
      Common.json(Map("span" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_s" -> selfS(s),
        "jobs" -> js.map(j => Map("job" -> j.id, "label" -> j.label,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tasks" -> j.tasks,
          "cpu_s" -> j.cpuNs / 1e9, "gc_s" -> j.gcMs / 1e3,
          "shuffle_write_bytes" -> j.shuffleWrite, "input_bytes" -> j.input,
          "spill_bytes" -> j.spill))))
    }
    java.nio.file.Files.writeString(path, lines.mkString("\n") + "\n")
  }
}

object Progress {
  final case class Trigger(batchId: Long, startMs: Long, rows: Long,
                           durations: Map[String, Long])
}

/** Per-trigger progress of every streaming query (durationMs phases). */
final class Progress extends StreamingQueryListener {
  import Progress.Trigger
  val triggers = mutable.ArrayBuffer[Trigger]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    synchronized {
      triggers += Trigger(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, d)
    }
  }
}
