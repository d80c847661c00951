package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import graft.SparkEntry

/** A benchmark workload: set-up, timed passes, output checks and
  * per-layer extras. */
trait Workload {
  /** Untimed set-up after the session exists: warm-up and fixtures. */
  def warm(): Unit
  def pass(n: Int, traced: Boolean): Seq[Main.Req]
  /** Untimed output checks; returns a JSON-ready description. */
  def check(reqs: Seq[Main.Req]): Map[String, Any]
  def summary(reqs: Seq[Main.Req]): Seq[(String, Any)] = Nil
  def layerMetrics(): Seq[(String, Any)] = Nil
  def kernelStrings(): Seq[String]
  def kernelVectors(): Seq[Array[Float]]
}

object Workloads {
  /** The relational registry queries q01-q28. */
  val relational: Seq[String] = SparkEntry.queries.keys.toSeq
    .filter(_.takeWhile(_ != '_').matches("q(0[1-9]|1[0-9]|2[0-8])")).sorted
  /** The streaming drain that rides in the interactive mix: a
    * stream-stream join over the events landing zone. */
  val streaming: Seq[String] = Seq("sm05").map { c =>
    SparkEntry.queries.keys.find(_.takeWhile(_ != '_') == c)
      .getOrElse(sys.error(s"no registry query with code $c"))
  }

  /** One pass: each relational query twice and the drain once, so the
    * median rests on two samples of every query. */
  def pass(workload: String): Seq[String] = workload match {
    case "interactive" => relational ++ relational ++ streaming
    case other => sys.error(s"unknown workload $other")
  }

  /** Drop what the previous request cached or pinned, so each request
    * pays for its own caches. */
  def dropCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** Registry queries as requests: the registry call (build), planning of
  * the count, and execution to the count. `requests` is one pass. */
final class QueryWorkload(spark: SparkSession, a: Main.Args, t: Tracer,
                          requests: Seq[String]) extends Workload {
  private val names = requests.distinct
  private val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
  private var exchanges = 0L
  private var rowsOut = 0L
  private val phase = mutable.Map[String, Double]().withDefaultValue(0.0)

  private val outDir = s"${a.run}/outputs"
  private val warmFailures = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val warmSeconds = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** The set-up: every query once on the timed inputs, `cores` at a
    * time, writing each output for the oracle check and staging the
    * streaming queries' landing zones (which the registry builds on first
    * use); then the relational queries once more, so the timed pass sees
    * warm codegen and JIT rather than finishing their warm-up. */
  def warm(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cores)
    // slowest first, so the short queries fill the other threads
    val order = names.sortBy(n => !Workloads.streaming.contains(n))
    def round(queries: Seq[String])(body: String => Unit): Unit = queries.map { n =>
      pool.submit(new Runnable {
        def run(): Unit = try body(n) catch { case e: Throwable =>
          warmFailures.add(n)
          System.err.println(s"[perfbench] set-up run of $n failed: $e")
        }
      })
    }.foreach(_.get())
    try {
      round(order) { n =>
        val t0 = System.nanoTime()
        fns(n)(spark, a.data).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
        warmSeconds.put(n, (System.nanoTime() - t0) / 1e9)
      }
      round(order.filterNot(Workloads.streaming.contains))(n => fns(n)(spark, a.data).count())
    } finally pool.shutdown()
    // streaming runs scope their state partitions by setting the session
    // value and restoring it afterwards; concurrent runs can interleave
    // those writes, so put the session value back
    spark.conf.set("spark.sql.shuffle.partitions", a.cores.toString)
    Workloads.dropCaches(spark)
  }

  def pass(n: Int, traced: Boolean): Seq[Main.Req] = {
    val order = new Random(a.seed * 7919L + n).shuffle(requests)
    order.zipWithIndex.map { case (name, i) =>
      val id = s"req-$n-$i-$name"
      if (traced) {
        spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
        t.request = id
      }
      val t0 = System.nanoTime()
      val (ok, rows) = try t.span(name, "request") {
        val df = t.span("build", "queries.build")(fns(name)(spark, a.data))
        val t1 = System.nanoTime()
        val counted = df.groupBy().count()
        t.span("plan", "queries.plan")(counted.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        val rows = t.span("exec", "queries.exec")(counted.collect()(0).getLong(0))
        if (traced) {
          val t3 = System.nanoTime()
          phase("queries.build_s") += (t1 - t0) / 1e9
          phase("queries.plan_s") += (t2 - t1) / 1e9
          phase("queries.exec_s") += (t3 - t2) / 1e9
          exchanges += QueryWorkload.exchanges(counted.queryExecution.executedPlan)
          rowsOut += rows
        }
        (true, rows)
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] request $id failed: $e")
        (false, -1L)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) { spark.sparkContext.clearJobGroup(); t.request = "" }
      Workloads.dropCaches(spark)
      Main.Req(name, wall, ok, rows, traced)
    }
  }

  /** Outputs were written by the set-up pass; the launcher compares them
    * with the DuckDB oracle, and every request's row count with the
    * oracle's. */
  def check(reqs: Seq[Main.Req]): Map[String, Any] = {
    val rows = reqs.groupBy(_.name).map { case (n, rs) => n -> rs.map(_.rows) }
    Map("kind" -> "oracle", "output_dir" -> outDir,
      "written" -> names.filterNot(n => warmFailures.contains(n)),
      "request_rows" -> rows,
      "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }

  /** `sources.stage_s`: the set-up runs of the streaming requests, whose
    * first use stages their landing zones. */
  override def layerMetrics(): Seq[(String, Any)] = phase.toSeq ++ Seq(
    "spark.exchanges" -> exchanges, "queries.rows_out" -> rowsOut,
    "sources.stage_s" -> Workloads.streaming.map(n => warmSeconds.getOrDefault(n, 0.0)).sum)

  private lazy val docs = spark.read.parquet(s"${a.data}/documents.parquet")
  def kernelStrings(): Seq[String] = {
    import spark.implicits._
    docs.select("text").as[String].take(2000).toSeq
  }
  def kernelVectors(): Seq[Array[Float]] = {
    import spark.implicits._
    spark.read.parquet(s"${a.data}/embeddings.parquet").select("embedding")
      .as[Seq[Float]].take(2000).map(_.toArray).toSeq
  }
}

object QueryWorkload {
  /** Exchange nodes in an executed plan, through AQE stages and
    * subqueries. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum +
      other.subqueries.map(exchanges).sum
  }
}
