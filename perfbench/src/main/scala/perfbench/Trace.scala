package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into the program. `parent` is 0 for a root span. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val kind: String, val query: String, val start: Long) {
  var end: Long = -1L
}

/** Spans around the benchmark's calls into the program, and the Spark
  * jobs, stages, tasks and streaming progress attributed to them.
  *
  * Untraced runs keep only the wall time of each call: no listener, no job
  * group, no call-site capture. Traced runs set a job group per span so
  * every job names the span that caused it; streaming micro-batches run on
  * the query's own thread under its own job group and are attributed to
  * the span that was open when the query started. Everything is kept in
  * memory and written out once, at the end of the run.
  */
object Trace {
  @volatile var enabled = false
  private var sc: SparkContext = _

  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  /** Innermost open span, for events that carry no span job group. */
  @volatile var current: Int = 0

  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled) context.addSparkListener(Jobs)
    setGroup(open.headOption)
  }

  private def setGroup(s: Option[Span]): Unit =
    if (sc != null) s match {
      case Some(p) => sc.setJobGroup(s"span-${p.id}", s"${p.kind}:${p.name}")
      case None => sc.clearJobGroup()
    }

  /** Run `f` inside a span; returns its result and its wall seconds. */
  def span[A](name: String, kind: String, query: String = "")(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    if (!enabled) {
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    } else {
      val parent = open.headOption
      val s = new Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0), name,
        kind, if (query.nonEmpty) query else parent.map(_.query).getOrElse(""), t0)
      spans += s
      open = s :: open
      current = s.id
      setGroup(Some(s))
      try {
        val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      } finally {
        s.end = System.nanoTime()
        open = open.tail
        current = open.headOption.map(_.id).getOrElse(0)
        setGroup(open.headOption)
      }
    }
  }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
      "query" -> s.query, "start_ns" -> s.start, "end_ns" -> s.end)
  }

  private[perfbench] def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt)
      .getOrElse(current)
}

/** Per-stage totals of the task metrics the per-layer figures need. */
final class StageAgg(val id: Int, val attempt: Int, val name: String,
                     val numTasks: Int, val job: Int) {
  var submitted = 0L; var completed = 0L
  var tasks = 0; var failedTasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var inputRecords = 0L
  var outputBytes = 0L; var outputRecords = 0L
  var shWriteBytes = 0L; var shWriteRecords = 0L; var shWriteNs = 0L
  var shReadBytes = 0L; var shReadRecords = 0L; var fetchWaitMs = 0L
  var memSpill = 0L; var diskSpill = 0L; var peakExec = 0L
  val readPerTask = mutable.ArrayBuffer[Long]()

  def record: Map[String, Any] = Map(
    "id" -> id, "attempt" -> attempt, "name" -> name, "job" -> job,
    "num_tasks" -> numTasks, "submitted_ms" -> submitted, "completed_ms" -> completed,
    "tasks" -> tasks, "failed_tasks" -> failedTasks, "run_ms" -> runMs,
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
    "input_records" -> inputRecords, "output_bytes" -> outputBytes,
    "output_records" -> outputRecords, "shuffle_write_bytes" -> shWriteBytes,
    "shuffle_write_records" -> shWriteRecords, "shuffle_write_ns" -> shWriteNs,
    "shuffle_read_bytes" -> shReadBytes, "shuffle_read_records" -> shReadRecords,
    "fetch_wait_ms" -> fetchWaitMs, "memory_spill" -> memSpill,
    "disk_spill" -> diskSpill, "peak_execution" -> peakExec,
    "read_per_task" -> readPerTask.toSeq)
}

/** SparkListener half of the trace: jobs (with their span and, when a job
  * runs inside an artifact-store build, the call site that asked for the
  * build), stages and task metrics. */
object Jobs extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, mutable.Map[String, Any]]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val storeFrame = "graft.ArtifactStore.getOrBuild"

  /** The frame that called the outermost artifact-store build on this
    * job's call stack, or "" when the job runs outside any build. */
  private def storeCaller(details: String): String = {
    val frames = details.split("\n").map(_.trim)
    val last = frames.lastIndexWhere(_.startsWith(storeFrame))
    if (last < 0 || last + 1 >= frames.length) "" else frames(last + 1)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    jobs.put(e.jobId, mutable.Map[String, Any](
      "id" -> e.jobId, "span" -> Trace.spanOf(e.properties),
      "submitted_ms" -> e.time, "completed_ms" -> 0L,
      "stages" -> e.stageIds, "store_caller" -> storeCaller(details)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j("completed_ms") = e.time
      j("succeeded") = e.jobResult == JobSucceeded
    }

  private def agg(info: StageInfo): StageAgg =
    stages.computeIfAbsent((info.stageId, info.attemptNumber()), _ =>
      new StageAgg(info.stageId, info.attemptNumber(), info.name, info.numTasks,
        stageJob.getOrDefault(info.stageId, -1)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    agg(e.stageInfo).submitted = e.stageInfo.submissionTime.getOrElse(0L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(e.stageInfo)
    a.submitted = e.stageInfo.submissionTime.getOrElse(a.submitted)
    a.completed = e.stageInfo.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stages.computeIfAbsent((e.stageId, e.stageAttemptId), _ =>
      new StageAgg(e.stageId, e.stageAttemptId, "", 0,
        stageJob.getOrDefault(e.stageId, -1)))
    val m = e.taskMetrics
    a.synchronized {
      if (!e.taskInfo.successful) a.failedTasks += 1
      if (m != null) {
        a.tasks += 1
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.outputRecords += m.outputMetrics.recordsWritten
        a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
        a.shWriteNs += m.shuffleWriteMetrics.writeTime
        val read = m.shuffleReadMetrics.totalBytesRead
        a.shReadBytes += read
        a.shReadRecords += m.shuffleReadMetrics.recordsRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.memSpill += m.memoryBytesSpilled; a.diskSpill += m.diskBytesSpilled
        a.peakExec = a.peakExec.max(m.peakExecutionMemory)
        if (read > 0) a.readPerTask += read
      }
    }
  }

  def jobRecords: Seq[Map[String, Any]] =
    jobs.values.asScala.toSeq.map(_.toMap).sortBy(_("id").asInstanceOf[Int])
  def stageRecords: Seq[Map[String, Any]] =
    stages.values.asScala.toSeq.map(_.record)
}

/** StreamingQueryListener half of the trace. Registered through
  * `spark.sql.streaming.streamingQueryListeners` because the program runs
  * its streaming queries on cloned sessions, each with its own query
  * manager; the conf is inherited by the clones. */
class StreamTrace extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    StreamTrace.start(e.runId.toString, Option(e.name).getOrElse(""))
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    StreamTrace.progress(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    StreamTrace.end(e.runId.toString)
}

object StreamTrace {
  private val queries = new ConcurrentHashMap[String, mutable.Map[String, Any]]()

  def start(runId: String, name: String): Unit =
    queries.put(runId, mutable.Map[String, Any]("run_id" -> runId, "name" -> name,
      "span" -> Trace.current, "started_ns" -> System.nanoTime(),
      "terminated_ns" -> 0L, "batches" -> mutable.ArrayBuffer[Map[String, Any]]()))

  def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    Option(queries.get(p.runId.toString)).foreach { q =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val batch = Map[String, Any](
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
        "input_rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_memory_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      q.synchronized {
        q("batches").asInstanceOf[mutable.ArrayBuffer[Map[String, Any]]] += batch
      }
    }

  def end(runId: String): Unit =
    Option(queries.get(runId)).foreach(_("terminated_ns") = System.nanoTime())

  def records: Seq[Map[String, Any]] = queries.values.asScala.toSeq.map { q =>
    q.synchronized {
      q.toMap.updated("batches",
        q("batches").asInstanceOf[mutable.ArrayBuffer[Map[String, Any]]].toSeq)
    }
  }
}
