package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch nanoseconds on the JVM's clock
  * (millisecond resolution for listener events). `parent` is 0 for roots. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      request: String, start: Long, end: Long)

/** In-memory span recorder plus the counters measured at the same
  * boundaries. Spans are only recorded while `on` is set, so an untraced
  * pass in the same process pays for a flag check per event. */
final class Tracer {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()

  /** Span open on the request thread; jobs and batches started while it
    * is open become its children. */
  @volatile var current: Long = 0
  @volatile var request: String = ""

  def nextId(): Long = ids.incrementAndGet()
  /** Epoch nanoseconds from the monotonic clock, on the same scale as the
    * listeners' millisecond event stamps. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = System.nanoTime() + epochOffsetNs

  def add(key: String, v: Double): Unit = if (on)
    counters.computeIfAbsent(key, _ => new DoubleAdder).add(v)
  def counter(key: String): Double =
    Option(counters.get(key)).map(_.sum).getOrElse(0.0)

  def record(s: Span): Unit = if (on) spans.add(s)

  /** Run `body` inside a span that becomes the parent of anything started
    * meanwhile on this thread or by listeners. */
  def span[T](name: String, layer: String)(body: => T): T = {
    if (!on) return body
    val id = nextId()
    val parent = current
    current = id
    val t0 = nowNs()
    try body finally {
      record(Span(id, parent, name, layer, request, t0, nowNs()))
      current = parent
    }
  }

  /** Per-layer self time: each span's duration minus the union of its
    * children's intervals clipped to it, summed by layer. */
  def selfTimeByLayer(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var total = 0L
        var (cs, ce) = (Long.MinValue, Long.MinValue)
        covered.foreach { case (a, b) =>
          if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
          else ce = math.max(ce, b)
        }
        if (ce > cs) total += ce - cs
        (s.end - s.start - total).max(0L) / 1e9
      }.sum
    }
  }

  def countByLayer(): Map[String, Int] =
    spans.asScala.toSeq.groupBy(_.layer).map { case (k, v) => k -> v.size }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "request" -> s.request,
        "start_ns" -> s.start, "end_ns" -> s.end)))
    } finally w.close()
  }
}

/** Spark job/stage/task listener. Jobs carry their request through the
  * job group (set per request in traced passes); streaming micro-batch
  * jobs run under the stream's own group, so they are attributed to the
  * request open when they start. */
final class SparkLayerListener(t: Tracer) extends SparkListener {
  val events = new AtomicLong(0)
  private final case class Open(id: Long, parent: Long, req: String, start: Long)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Open]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Open]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (t.on) {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val req = if (group.startsWith("req-")) group else t.request
    val o = Open(t.nextId(), t.current, req, e.time * 1000000L)
    jobs.put(e.jobId, o)
    e.stageIds.foreach(s => stageJob.put(s, o))
    t.add("spark.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    val o = jobs.remove(e.jobId)
    if (o != null) t.record(Span(o.id, o.parent, s"job-${e.jobId}",
      "spark.job", o.req, o.start, e.time * 1000000L))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (t.on)
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (t.on) {
    val si = e.stageInfo
    t.add("spark.stages", 1)
    val start = si.submissionTime.getOrElse(0L)
    val end = si.completionTime.getOrElse(start)
    val job = Option(stageJob.remove(si.stageId))
    t.record(Span(t.nextId(), job.map(_.id).getOrElse(0L), s"stage-${si.stageId}",
      "spark.stage", job.map(_.req).getOrElse(t.request),
      start * 1000000L, end * 1000000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (t.on) {
    t.add("spark.tasks", 1)
    if (e.reason != org.apache.spark.Success) t.add("spark.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      t.add("spark.task_s", m.executorRunTime / 1e3)
      t.add("spark.spill_mb", m.diskBytesSpilled / 1048576.0)
      t.add("spark.input_mb", m.inputMetrics.bytesRead / 1048576.0)
      t.add("spark.shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead) / 1048576.0)
      t.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
    }
    val sub = stageSubmit.getOrDefault(e.stageId, 0L)
    if (e.taskInfo != null && sub != 0L)
      t.add("spark.task_wait_s", math.max(0L, e.taskInfo.launchTime - sub) / 1e3)
  }
}

/** Micro-batch progress: always collected (the streaming workload's
  * end-to-end batch latencies come from here); spans and phase counters
  * only while tracing. */
final class StreamLayerListener(t: Tracer) extends StreamingQueryListener {
  val triggerMs = new ConcurrentLinkedQueue[java.lang.Long]()
  val inputRows = new AtomicLong(0)
  val events = new AtomicLong(0)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    events.incrementAndGet()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val trig = d.getOrElse("triggerExecution", 0L)
    events.incrementAndGet()
    if (p.numInputRows > 0 || d.contains("addBatch")) {
      triggerMs.add(trig)
      inputRows.addAndGet(p.numInputRows)
    }
    if (t.on) {
      t.add("streaming.batches", 1)
      Seq("addBatch" -> "add_batch_ms", "getBatch" -> "get_batch_ms",
        "queryPlanning" -> "planning_ms", "walCommit" -> "wal_commit_ms",
        "commitOffsets" -> "commit_offsets_ms",
        "latestOffset" -> "latest_offset_ms").foreach { case (k, n) =>
        t.add(s"streaming.$n", d.getOrElse(k, 0L).toDouble)
      }
      p.stateOperators.foreach { so =>
        t.add("streaming.state_rows", so.numRowsTotal.toDouble)
        t.add("streaming.state_mem_mb", so.memoryUsedBytes / 1048576.0)
        t.add("streaming.state_commit_ms", so.commitTimeMs.toDouble)
      }
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + trig
      t.record(Span(t.nextId(), t.current, s"batch-${p.batchId}",
        "streaming.batch", t.request, (end - trig) * 1000000L, end * 1000000L))
    }
  }
}
