package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Benchmark decontamination for training corpora (public technique: the
  * n-gram-overlap checks described in the GPT-3 §C / PaLM appendices):
  * flag training documents that share word n-grams with an evaluation
  * benchmark, so they can be dropped or quarantined before training.
  *
  * Shape: distinct n-grams per training doc (explode), distinct n-grams of
  * the WHOLE benchmark (its total gram set is small — thousands of eval
  * items), equi-join on the gram, per-doc overlap count. Catalyst
  * broadcasts the benchmark gram set at any realistic size, so the train
  * side streams through one map-side join plus a single per-doc aggregate —
  * no train-vs-train pairing ever happens, which is what keeps this linear
  * at 100 TB while dd03/dd05 handle the quadratic-risk dedup cases. */
object Contamination {

  /** Per-training-doc overlap report against a benchmark corpus.
    *
    * Output: one row per training doc with `n_grams` (its distinct n-gram
    * count), `n_overlap` (how many of those appear anywhere in the
    * benchmark), and `contaminated` (n_overlap >= minOverlap). Documents
    * shorter than `n` tokens degrade to one whole-document gram (same
    * convention as [[Dedup.ngramJaccardPairs]]).
    */
  def overlapReport(train: DataFrame, trainId: String, trainText: String,
                    bench: DataFrame, benchText: String,
                    n: Int = 8, minOverlap: Int = 1): DataFrame = {
    def gramsOf(df: DataFrame, textCol: String, keep: Seq[String]): DataFrame =
      df.select(keep.map(col) :+ split(col(textCol), " ").as("_w_"): _*)
        .select(keep.map(col) :+ explode(expr(
          s"array_distinct(transform(sequence(1, greatest(size(_w_) - ${n - 1}, 1)), i -> array_join(slice(_w_, i, $n), ' ')))"))
          .as("_gram_"): _*)

    val tg = gramsOf(train, trainText, Seq(trainId))
    val bg = gramsOf(bench, benchText, Seq.empty).distinct()
    val sizes = tg.groupBy(trainId).agg(count(lit(1)).as("n_grams"))
    // tg is distinct per doc already, so a plain count after the join IS the
    // distinct-overlap count; bench grams join broadcast (small by nature)
    val hits = tg.join(F.broadcast(bg), "_gram_")
      .groupBy(trainId).agg(count(lit(1)).as("n_overlap"))
    sizes.join(hits, Seq(trainId), "left")
      .na.fill(0L, Seq("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= minOverlap)
  }

  /** Cross-document memorization-risk report: for each document, the
    * fraction of its distinct word n-grams that also appear in at least
    * one OTHER document — the span-level duplication signal that predicts
    * verbatim memorization (exact-dup and near-dup filters miss partially
    * copied spans; this measures them). All integer: risk is reported in
    * permille (`n_shared·1000 div n_grams`), so the gate has no float to
    * straddle.
    *
    * Plan (round-19 re-plan; supersedes the round-16 shape): n-grams are
    * deduplicated PER DOCUMENT inside the row (array_distinct over the
    * gram transform), so the exploded (doc, gram) stream is unique by
    * construction and crosses the wire exactly once — the per-gram
    * (docs count, min-id owner) rollup's exchange; the round-16 global
    * (doc, gram) `.distinct()` shuffle and the second per-doc rollup
    * over the gram stream are gone (the per-doc gram count is the
    * row-local `size` of the distinct array).
    * `n_shared = n_grams − (grams whose docs-count is 1, attributed to
    * their owner)`. No gram-partitioned window anywhere: a
    * count-over-Window.partitionBy(gram) would funnel EVERY occurrence
    * of a hot boilerplate gram (cookie banner in 10^8 docs) through one
    * unsplittable sort task — the exact skew this operator exists to
    * measure. The one aggregate collapses map-side, so the hot gram
    * costs one partial row per partition.
    * Gram keys here are the joined strings (gate-friendly); at 100 TB
    * hash them to 64-bit first (xxhash64 — ids-only shuffles, same
    * plan). Documents with fewer than n tokens emit no row. */
  def memorizationRisk(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val words = df.select(col(idCol),
      split(col(textCol), "\\s+").as("_ws_"))
      .select(col(idCol), expr("filter(_ws_, x -> x != '')").as("_ws_"))
    // per-doc DISTINCT gram arrays (optimization round 19, guide §2.3/§2.4):
    // array_distinct inside the row removes the former global (id, gram)
    // `.distinct()` — after it, exploded (id, gram) rows are unique by
    // construction (within a doc the array collapsed them; across docs the
    // id differs), so the gram stream crosses the wire ONCE (the perGram
    // rollup's exchange) instead of three times (distinct shuffle + two
    // rollup exchanges), and the per-doc gram count is the row-local
    // size(_gs_) — no second pass over the gram stream at all. Hot-gram
    // skew is still map-side-collapsed: perGram's count/min are partial
    // aggregates, so a 10^8-doc boilerplate gram arrives at its one
    // reducer as one partial row per map task, never as raw rows.
    val docGrams = words
      // guard BEFORE sequence(): Spark's sequence(1, 0) counts DOWN
      // ([1, 0]), so a short doc would emit grams at invalid indices
      .where(size(col("_ws_")) >= n)
      .select(col(idCol), expr(
        s"""array_distinct(transform(sequence(1, size(_ws_) - ${n - 1}),
           |  i -> concat_ws(' ', slice(_ws_, i, $n))))""".stripMargin)
        .as("_gs_"))
      // read by the explode below AND the final per-doc stats projection;
      // pinned so the tokenize + gram transform runs once (the pre-r19
      // shape pinned the strictly larger EXPLODED stream for the same
      // reason)
      .transform(Materialize.lazyRound)
    val grams = docGrams.select(col(idCol), explode(col("_gs_")).as("_g_"))
    val perGram = grams.groupBy(col("_g_"))
      .agg(count(lit(1)).as("_docs_"), min(col(idCol)).as("_owner_"))
    // a gram with exactly one distinct doc is UNIQUE to that doc; all of
    // a doc's other grams are shared with at least one other document
    val uniq = perGram.where(col("_docs_") === 1L)
      .groupBy(col("_owner_").as(idCol)).agg(count(lit(1)).as("_nu_"))
    // cast: size() is INT, the public n_grams column has always been the
    // old count()'s BIGINT — the schema is part of the oracle contract
    docGrams.select(col(idCol), size(col("_gs_")).cast("long").as("n_grams"))
      .join(uniq, Seq(idCol), "left")
      .withColumn("n_shared", col("n_grams") - coalesce(col("_nu_"), lit(0L)))
      .withColumn("risk_permille",
        expr("(n_shared * 1000) div n_grams"))
      .select(col(idCol), col("n_grams"), col("n_shared"),
        col("risk_permille"))
  }

  /** Exact-substring contamination: a training doc is flagged when any
    * benchmark snippet appears VERBATIM inside it — the stricter
    * companion to [[overlapReport]]'s n-gram measure (the form used for
    * canary strings and verbatim answer leakage, where token-level
    * overlap is too forgiving).
    *
    * Scale: snippets broadcast (benchmark-sized, tiny next to the
    * corpus); the scan is one pass over training text. The per-row cost
    * is |snippets| substring searches — at a real snippet count use
    * [[exactContainsReportAC]] (one automaton pass per char, identical
    * output); the declarative contains-join below IS the gated
    * semantics. Output: (trainId, n_hits, contaminated). */
  def exactContainsReport(train: DataFrame, trainId: String,
                          trainText: String, snippets: DataFrame,
                          snippetCol: String): DataFrame = {
    val sn = snippets.select(col(snippetCol).as("_sn_")).distinct()
    val hits = train.select(col(trainId), col(trainText).as("_t_"))
      .crossJoin(F.broadcast(sn))
      .where(col("_t_").contains(col("_sn_")))
      .groupBy(trainId).agg(count(lit(1)).as("n_hits"))
    train.select(col(trainId))
      .join(hits, Seq(trainId), "left")
      .na.fill(0L, Seq("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Aho-Corasick trie with BFS failure links (Aho & Corasick '75,
    * public algorithm): matches ALL patterns against a text in one
    * left-to-right pass, independent of pattern count. Built once on the
    * driver from the (benchmark-sized) snippet set, broadcast to
    * executors. `matchedDistinct` returns how many DISTINCT patterns
    * occur — exactly the contains-join's count. */
  private[operators] final class AhoCorasick(patterns: Array[String])
      extends Serializable {
    import scala.collection.mutable
    private val next = mutable.ArrayBuffer(mutable.HashMap.empty[Char, Int])
    private val out = mutable.ArrayBuffer(mutable.BitSet.empty)
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var s = 0
      p.foreach { ch =>
        s = next(s).getOrElseUpdate(ch, {
          next += mutable.HashMap.empty[Char, Int]
          out += mutable.BitSet.empty
          next.size - 1
        })
      }
      out(s) += pi
    }
    private val fail = Array.fill(next.size)(0)
    // BFS: child fail = longest proper suffix state; outputs propagate so
    // a state "knows" every pattern ending at any of its suffixes
    locally {
      val q = mutable.Queue.empty[Int]
      next(0).values.foreach(q.enqueue)
      while (q.nonEmpty) {
        val s = q.dequeue()
        next(s).foreach { case (ch, child) =>
          var f = fail(s)
          while (f != 0 && !next(f).contains(ch)) f = fail(f)
          fail(child) = next(f).get(ch).filter(_ != child).getOrElse(0)
          out(child) |= out(fail(child))
          q.enqueue(child)
        }
      }
    }
    def matchedDistinct(text: String): Int = {
      val seen = mutable.BitSet.empty
      var s = 0
      var i = 0
      while (i < text.length && seen.size < patterns.length) {
        val ch = text.charAt(i)
        while (s != 0 && !next(s).contains(ch)) s = fail(s)
        s = next(s).getOrElse(ch, 0)
        if (out(s).nonEmpty) seen |= out(s)
        i += 1
      }
      seen.size
    }
  }

  /** [[exactContainsReport]]'s big-snippet-set lane: identical output
    * (bit-for-bit, asserted by spec), different cost — one automaton
    * pass per character instead of |snippets| substring searches per
    * row. The snippet collect is benchmark-sized by contract. */
  def exactContainsReportAC(train: DataFrame, trainId: String,
                            trainText: String, snippets: DataFrame,
                            snippetCol: String): DataFrame = {
    // NULL snippets dropped (the twin's contains(NULL) predicate filters
    // them — pre-fix they reached .sorted / the trie builder as null and
    // threw a message-less driver NPE); the EMPTY snippet is special-cased
    // because contains("") is TRUE for every non-null text while the
    // automaton never fires on it — bit-parity demands the +1
    val pats0 = snippets.select(col(snippetCol).cast("string").as("_sn_"))
      .where(col("_sn_").isNotNull).distinct()
      .collect().map(_.getString(0)).sorted
    val hasEmpty = pats0.contains("")
    val pats = pats0.filter(_.nonEmpty)
    val bc = train.sparkSession.sparkContext.broadcast(new AhoCorasick(pats))
    val nHits = udf { (t: String) =>
      if (t == null) 0L
      else bc.value.matchedDistinct(t).toLong + (if (hasEmpty) 1L else 0L)
    }
    train.select(col(trainId), nHits(col(trainText)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }
}
