package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded from the benchmark's own code: around its calls into the
  * engine's public functions, at the mock endpoints, and from Spark's public
  * listener events. Spans stay in memory and are written out when the run
  * ends. Recording is off unless [[enabled]], so untraced runs pay one
  * volatile read per would-be span.
  *
  * Times are on one clock: nanoseconds since the JVM's first use of this
  * object. Spark reports epoch milliseconds; [[fromEpochMs]] maps them. */
object Trace {
  final case class Span(name: String, start: Long, end: Long, id: String,
                        parent: String, traceId: String)

  @volatile var enabled = false
  /** Parent for spans whose layer cannot know its caller (the mocks). */
  @volatile var currentParent = "root"
  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  def now(): Long = System.nanoTime() - t0Nanos
  def fromEpochMs(ms: Long): Long = (ms - t0EpochMs) * 1000000L
  def nextId(prefix: String): String = s"$prefix-${ids.incrementAndGet()}"

  def span(name: String, start: Long, end: Long, traceId: String,
           id: String = null, parent: String = null): Unit =
    if (enabled) spans.add(Span(name, start, end,
      if (id == null) nextId("s") else id,
      if (parent == null) currentParent else parent, traceId))

  /** Runs `body` inside a span named `name` with the given id. */
  def timed[T](name: String, id: String, parent: String = "root")(body: => T): T = {
    val s = now()
    try body finally span(name, s, now(), "", id, parent)
  }

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }
  def clear(): Unit = spans.clear()

  def write(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(s"""{"name":${Json.quote(s.name)},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""id":${Json.quote(s.id)},"parent":${Json.quote(s.parent)},"trace_id":${Json.quote(s.traceId)}}""")
    } finally w.close()
  }

  /** Total length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per span name: (count, Σ duration ms, Σ self time ms). A span's self
    * time is its duration minus the part of it its children cover. */
  def layerTable(ss: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).toSeq.map { case (name, group) =>
      var dur = 0L
      var self = 0L
      group.foreach { s =>
        val d = s.end - s.start
        dur += d
        self += d - covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      }
      (name, group.size, dur / 1e6, self / 1e6)
    }.sortBy(-_._3)
  }
}

/** Spark's public listener events, kept per job and per stage attempt so a
  * traced run can split each request, query or micro-batch into jobs ×
  * per-job floor and compute. Jobs carry their parent span through the job
  * group (batch and request workloads) or the micro-batch id (streaming). */
final class EngineListener extends SparkListener {
  import EngineListener._

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  @volatile private var markerSeen = false

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobStarts.remove(e.jobId)).foreach { s =>
    val p = Option(s.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group == EngineListener.Marker) markerSeen = true
    else jobs.add(Job(e.jobId, group,
      p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).getOrElse(""),
      Trace.fromEpochMs(s.time), Trace.fromEpochMs(e.time), s.stageIds))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val start = i.submissionTime.getOrElse(0L)
    stages.add(Stage(i.stageId, i.attemptNumber(), Trace.fromEpochMs(start),
      Trace.fromEpochMs(i.completionTime.getOrElse(start)), i.numTasks,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled,
      if (m == null) 0L else m.inputMetrics.bytesRead))
  }

  /** Waits until every event posted before now has reached this listener:
    * runs a one-task marker job and waits for its end event, which the
    * listener bus delivers after all earlier ones. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    markerSeen = false
    sc.setJobGroup(EngineListener.Marker, "listener drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(5)
    require(markerSeen, "Spark listener bus did not deliver the drain marker within 30 s")
  }

  /** Job and stage spans, parented to the span named by the job group, or
    * to the micro-batch span for streaming jobs. */
  def emitSpans(): Unit = {
    import scala.jdk.CollectionConverters._
    val stageParent = mutable.Map.empty[Int, String]
    jobs.asScala.foreach { j =>
      val parent = if (j.batch.nonEmpty) s"batch-${j.batch}" else if (j.group.nonEmpty) j.group else "root"
      Trace.span("spark.job", j.start, j.end, "", s"job-${j.id}", parent)
      j.stages.foreach(s => stageParent.getOrElseUpdate(s, s"job-${j.id}"))
    }
    stages.asScala.foreach { s =>
      Trace.span("spark.stage", s.start, s.end, "", s"stage-${s.id}-${s.attempt}",
        stageParent.getOrElse(s.id, "root"))
    }
  }

  /** Engine metrics over a traced window of `wallNs` covering `units`
    * requests, queries, pipeline runs or micro-batches. */
  def metrics(wallNs: Long, units: Int, cores: Int): Seq[(String, Double, String)] = {
    import scala.jdk.CollectionConverters._
    val js = jobs.asScala.toSeq
    val ss = stages.asScala.toSeq
    val u = math.max(units, 1).toDouble
    val cpuS = ss.map(_.cpuNs).sum / 1e9
    val mb = 1024.0 * 1024.0
    val inJobs = Trace.covered(js.map(j => (j.start, j.end)), Long.MinValue, Long.MaxValue)
    Seq(
      ("spark.jobs", js.size / u, "count"),
      ("spark.stages", ss.size / u, "count"),
      ("spark.tasks", ss.map(_.tasks).sum / u, "count"),
      ("spark.task_cpu_s", cpuS / u, "s"),
      ("spark.cpu_util", if (wallNs > 0) cpuS / (wallNs / 1e9 * cores) else 0.0, "fraction"),
      ("spark.driver_ms", math.max(0L, wallNs - inJobs) / 1e6 / u, "ms"),
      ("spark.shuffle_read_mb", ss.map(_.shuffleRead).sum / mb / u, "MB"),
      ("spark.shuffle_write_mb", ss.map(_.shuffleWrite).sum / mb / u, "MB"),
      ("spark.spill_mb", ss.map(_.spill).sum / mb / u, "MB"),
      ("spark.input_mb", ss.map(_.input).sum / mb / u, "MB"))
  }
}

object EngineListener {
  val Marker = "perfbench-drain-marker"
  final case class Job(id: Int, group: String, batch: String, start: Long, end: Long,
                       stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, start: Long, end: Long, tasks: Int,
                         cpuNs: Long, shuffleRead: Long, shuffleWrite: Long,
                         spill: Long, input: Long)
}

/** Structured Streaming's own per-trigger timings, from the public
  * `StreamingQueryListener`. */
final class StreamListener extends StreamingQueryListener {
  import StreamListener.Batch
  val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // idle triggers (no new data) report progress too; only batches count
    if (p.numInputRows > 0 || durations.contains("addBatch")) {
      batches.add(Batch(p.batchId, start, p.numInputRows, durations))
      val s = Trace.fromEpochMs(start)
      Trace.span("stream.batch", s, s + durations.getOrElse("triggerExecution", 0L) * 1000000L,
        "", s"batch-${p.batchId}", "root")
    }
  }
}

object StreamListener {
  final case class Batch(id: Long, startEpochMs: Long, rows: Long, durations: Map[String, Long])
}
