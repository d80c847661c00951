package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph}

/** The superstep loops of the iterative graph operators
  * ([[graft.operators.Materialize.iterate]]): how many Spark actions one
  * operator call issues, and what one round's pin job plans. Both are
  * read off a `QueryExecutionListener` on a fresh session, so only the
  * call's own queries are seen. */
class SuperstepSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SharedSpark.spark

  /** Runs `body` on session `s` and returns the `(action, execution)` of
    * every successful action it issued, in order. Listener events arrive
    * asynchronously but in order, so a marker action's event closes the
    * window. */
  private def actions(s: SparkSession)(body: => Unit): Seq[(String, QueryExecution)] = {
    val seen = ArrayBuffer.empty[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += action -> qe)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def isMarker(qe: QueryExecution) =
      qe.analyzed.output.exists(_.name == "superstep_marker")
    s.listenerManager.register(listener)
    try {
      body
      s.range(1).toDF("superstep_marker").collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.synchronized(seen.exists(a => isMarker(a._2))) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      seen.synchronized(seen.takeWhile(a => !isMarker(a._2)).toList)
    } finally s.listenerManager.unregister(listener)
  }

  private def path(s: SparkSession, n: Long): DataFrame = {
    import s.implicits._
    (1L to n).sliding(2).map(p => (p.head, p.last)).toSeq.toDF("a", "b")
  }

  test("connectedComponents distributed lane: one action per superstep") {
    // min-label propagation on an n-path takes n supersteps (n - 1 to
    // carry label 1 to the far end, one that changes nothing); setup is
    // the pair count, the edge-set materialization and the first pin
    val s = spark.newSession()
    def run(n: Long) = actions(s) {
      Dedup.connectedComponents(path(s, n), "a", "b", maxIter = 20,
        driverThreshold = 0L)
    }.size
    val (a4, a8) = (run(4), run(8))
    assert(a8 - a4 == 4, s"CC actions: 4-path $a4, 8-path $a8")
    assert(a8 == 3 + 8, s"CC actions on an 8-path: $a8")
  }

  test("bfsDistances: one action per superstep") {
    // from node 1 of a directed n-path, hop h reaches node h + 1 and hop n
    // reaches nothing: n supersteps; setup pins the edges and the seeds
    val s = spark.newSession()
    def run(n: Long) = actions(s) {
      import s.implicits._
      Graph.bfsDistances(path(s, n), "a", "b", Seq(1L).toDF("id"),
        maxHops = 20)
    }.size
    val (a4, a8) = (run(4), run(8))
    assert(a8 - a4 == 4, s"BFS actions: 4-path $a4, 8-path $a8")
    assert(a8 == 2 + 8, s"BFS actions on an 8-path: $a8")
  }

  /** The executed plan of the first round pin: the first checkpoint job
    * whose plan holds a shuffle join (the setup pins hold none, or no
    * edge scan). Broadcast joins are off so every join shows its
    * exchanges. */
  private def firstRoundPlan(isRound: SparkPlan => Boolean)
                            (call: SparkSession => Unit): SparkPlan = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val pins = actions(s)(call(s)).collect {
      case (a, qe) if a.toLowerCase.contains("checkpoint") => qe.executedPlan
    }
    pins.find(p => find(p) {
      case _: SortMergeJoinExec | _: ShuffledHashJoinExec => true
      case _ => false
    }.isDefined && isRound(p)).getOrElse(
      fail(s"no round pin among ${pins.size} checkpoint jobs"))
  }

  private def scans(plan: SparkPlan, col: String): Seq[SparkPlan] =
    collectLeaves(plan).filter(_.output.exists(_.name == col))

  /** Exchanges that re-partition a scan holding `col` directly: only
    * single-child operators lie between the two. */
  private def exchangesOver(plan: SparkPlan, col: String): Seq[SparkPlan] = {
    def reaches(p: SparkPlan): Boolean = p.children match {
      case Seq() => p.output.exists(_.name == col)
      case Seq(c) => reaches(c)
      case _ => false
    }
    collect(plan) { case e: ShuffleExchangeExec => e }.filter(e => reaches(e.child))
  }

  test("round plans: the pre-partitioned edge side is not re-exchanged") {
    // connectedComponents: the symmetric edge set is cached hash-
    // partitioned on _dst_, the probe key of each round's label join
    val cc = firstRoundPlan(p => scans(p, "_dst_").nonEmpty) { s =>
      Dedup.connectedComponents(path(s, 6), "a", "b", maxIter = 20,
        driverThreshold = 0L)
    }
    assert(scans(cc, "_dst_").nonEmpty)
    assert(exchangesOver(cc, "_dst_").isEmpty,
      s"CC round re-exchanges its edge set:\n$cc")
    // pageRank: the degree-annotated edge list is cached hash-partitioned
    // on _src_, the key of each round's rank join
    val ranks = firstRoundPlan(p => scans(p, "_deg_").nonEmpty) { s =>
      Graph.pageRankInt(path(s, 6), "a", "b", iterations = 1)
    }
    assert(exchangesOver(ranks, "_deg_").isEmpty,
      s"pageRank round re-exchanges its edge list:\n$ranks")
    // star contraction: the large-star output is cached hash-partitioned
    // on _hi_, and the small-star's min and join both read it there
    val star = firstRoundPlan(p => scans(p, "_chg_").nonEmpty) { s =>
      Dedup.connectedComponentsStar(path(s, 6), "a", "b")
    }
    assert(collect(star) { case c: InMemoryTableScanExec => c }.nonEmpty,
      s"star CC round reads no cached large-star output:\n$star")
    assert(exchangesOver(star, "_hi_").isEmpty,
      s"star CC round re-exchanges its cached large-star output:\n$star")
  }
}
