package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload run.
  *
  * `perfbench.Main key=value ...` with keys: workload, data (timed inputs),
  * warm (the small warm-up inputs), seconds, trace (0|1), seed, cores,
  * launch_ms (epoch ms at which the launcher started this JVM), run (a
  * scratch directory for outputs), out (result JSON path).
  *
  * One request thread, closed loop. The timed phase runs whole passes over
  * the workload's requests until `seconds` have elapsed. A traced run
  * alternates untraced and traced passes and reports per-layer metrics
  * plus the tracing overhead; an untraced run reports end-to-end metrics.
  */
object Main {
  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
    val workload: String = apply("workload")
    val data: String = apply("data")
    def warm: String = apply("warm")
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    val seed: Long = apply("seed").toLong
    val cores: Int = apply("cores").toInt
    val launchMs: Long = apply("launch_ms").toLong
    val run: String = apply("run")
  }

  /** Outcome of one timed request. */
  final case class Req(name: String, wall: Double, ok: Boolean, rows: Long,
                       traced: Boolean)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap)
    val tracer = new Tracer
    val spark = session(a)
    System.err.println(s"[perfbench] session ready ${(System.currentTimeMillis() - a.launchMs) / 1e3} s")
    val streamL = new StreamLayerListener(tracer)
    spark.streams.addListener(streamL)
    val sparkL = new SparkLayerListener(tracer)
    if (a.trace) spark.sparkContext.addSparkListener(sparkL)

    val w: Workload = a.workload match {
      case "curation" => new Curation(spark, a, tracer)
      case name => new QueryWorkload(spark, a, tracer, Workloads.pass(name))
    }
    val jit = ManagementFactory.getCompilationMXBean
    val result = mutable.LinkedHashMap[String, Any]()
    try {
      w.warm()
      settle(streamL.events.get)
      val setupS = (System.currentTimeMillis() - a.launchMs) / 1e3
      val jitSetupS = jit.getTotalCompilationTime / 1e3
      streamL.triggerMs.clear(); streamL.inputRows.set(0)

      Heap.start()
      val jit0 = jit.getTotalCompilationTime
      val t0 = System.nanoTime()
      val reqs = mutable.ArrayBuffer[Req]()
      val passWall = mutable.ArrayBuffer[(Boolean, Double)]()
      var pass = 0
      // a traced run alternates untraced and traced passes, at least
      // untraced-traced-untraced, so the overhead compares warm passes
      while (pass == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds ||
             (a.trace && pass < 3)) {
        val traced = a.trace && pass % 2 == 1
        tracer.on = traced
        val rs = w.pass(pass, traced)
        // listener events arrive asynchronously: let the pass's last
        // ones land while its spans are still being recorded
        if (traced) { settle(sparkL.events.get); settle(streamL.events.get) }
        Heap.settle()
        reqs ++= rs
        passWall += traced -> rs.map(_.wall).sum
        tracer.on = false
        pass += 1
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val gcS = Heap.gcSeconds
      settle(streamL.events.get)
      val batches = streamL.triggerMs.asScala.map(_.toDouble / 1e3).toSeq
      val rowsIn = streamL.inputRows.get

      val checks = w.check(reqs.toSeq)
      val untraced = reqs.filterNot(_.traced).toSeq
      result ++= Seq(
        "workload" -> a.workload, "seed" -> a.seed, "passes" -> pass,
        "timed_wall_s" -> wall, "setup_s" -> setupS,
        "attempted" -> reqs.size, "failed" -> reqs.count(!_.ok),
        "latencies_s" -> untraced.map(_.wall),
        "request_names" -> untraced.map(_.name),
        "batch_s" -> batches, "stream_rows" -> rowsIn,
        "heap_peak_mb" -> Heap.peakMb, "checks" -> checks)
      result ++= w.summary(untraced)
      if (a.trace) {
        def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
        val layer = mutable.LinkedHashMap[String, Any]()
        val tracedWall = passWall.filter(_._1).map(_._2).sum
        Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
          "spark.task_wait_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
          "spark.spill_mb", "spark.input_mb", "spark.failed_tasks",
          "streaming.batches", "streaming.add_batch_ms", "streaming.get_batch_ms",
          "streaming.planning_ms", "streaming.wal_commit_ms",
          "streaming.commit_offsets_ms", "streaming.latest_offset_ms",
          "streaming.state_rows", "streaming.state_mem_mb",
          "streaming.state_commit_ms").foreach(k => layer(k) = tracer.counter(k))
        layer("spark.slot_util") = tracer.counter("spark.task_s") / (tracedWall * a.cores)
        layer("jvm.gc_s") = gcS
        layer("jvm.jit_setup_s") = jitSetupS
        layer("jvm.jit_timed_s") = (jit.getTotalCompilationTime - jit0) / 1e3
        val self = tracer.selfTimeByLayer()
        self.foreach { case (l, s) => layer(s"self.$l" + "_s") = s }
        tracer.countByLayer().foreach { case (l, n) => layer(s"spans.$l") = n }
        // the first pass still pays residual warm-up; leave it out
        val tracedPass = med(passWall.filter(_._1).map(_._2).toSeq)
        val untracedPass = med(passWall.drop(1).filterNot(_._1).map(_._2).toSeq)
        layer("trace.traced_pass_s") = tracedPass
        layer("trace.untraced_pass_s") = untracedPass
        layer("trace.overhead_s") = tracedPass - untracedPass
        layer ++= w.layerMetrics()
        layer ++= Kernels.measure(spark, w.kernelStrings(), w.kernelVectors())
        result("layers") = layer.toMap
        tracer.writeSpans(s"${a.run}/spans.jsonl")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result("error") = s"${e.getClass.getName}: ${e.getMessage}"
    } finally spark.stop()
    val out = a("out")
    val tmp = new java.io.File(out + ".tmp")
    java.nio.file.Files.writeString(tmp.toPath, Json.obj(result.toSeq))
    tmp.renameTo(new java.io.File(out))
    if (result.contains("error")) sys.exit(3)
  }

  /** Wait until asynchronous listener deliveries stop arriving. */
  def settle(events: => Long): Unit = {
    var prev = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(50)
      val cur = events
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
  }

  def session(a: Args): SparkSession = {
    val local = s"${a.run}/spark-local"
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"${a.run}/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // the pipeline's cached steps nest their plans inside each other;
      // uncapped, the plan text Spark builds per execution grows with the
      // nesting depth
      .config("spark.sql.maxPlanStringLength", "65536")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The JVM heap: a full collection after each timed pass, outside request
  * timing, whose old-generation occupancy is the live set the program
  * retains; and the GC time spent inside requests. */
object Heap {
  private val MB = 1048576.0
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  private var gc0 = 0L
  private var forcedMs = 0L
  @volatile var peakMb = 0.0

  def start(): Unit = { gc0 = gcMs; forcedMs = 0L; peakMb = 0.0 }

  def settle(): Unit = {
    val g = gcMs
    // the second collection runs after Spark's cleaner has released what
    // the first one found unreachable (broadcasts, shuffles, accumulators)
    System.gc()
    Thread.sleep(200)
    System.gc()
    forcedMs += gcMs - g
    oldGen.foreach(p => peakMb = math.max(peakMb, p.getCollectionUsage.getUsed / MB))
  }

  /** GC time since `start`, without the collections `settle` forced. */
  def gcSeconds: Double = (gcMs - gc0 - forcedMs) / 1e3
}
