package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Contamination, Dedup, FuzzyLookup, Materialize, Packing, TextAnalysis}
import graft.pipeline.{Model, Step}
import graft.sources.{ArchiveIngest, TarShards}
import graft.topic.TopicTree
import graft.topic.TopicTree._

/** The composed curation pipeline, one `graft.pipeline.Model` run per
  * request: ingest zip shards → clean → quality → dedup → topic → link →
  * decontaminate → pack → write tar shards.
  *
  * Every step materializes its output, so each step's time is its own;
  * a traced run records one span per step (and per topic fit/transform
  * and tar write) and counts kept rows between steps. */
final class Curation(spark: SparkSession, a: Main.Args, t: Tracer) extends Workload {
  import Curation._

  private var last: Option[(DataFrame, DataFrame)] = None
  private val layer = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private var runs = 0
  private var pipelineWall = 0.0
  private var docsIn = 0L
  private val digests = mutable.ArrayBuffer[String]()

  /** The pipeline over the corpus under `dir`, writing shards to `out`. */
  def model(dir: String, out: String, traced: Boolean): Model = {
    import spark.implicits._
    val evalSet = spark.read.parquet(s"$dir/evalset.parquet")
    var inRows = 0L
    // every step's output is materialized (the library's lineage pin):
    // later operators run eager jobs (component counts, shard totals,
    // index pins) that would otherwise recompute the whole lineage from
    // the archives, and nested step plans would grow with the depth
    def step(name: String, layerName: String)(op: DataFrame => DataFrame): Step =
      Step(name, (df, _) => {
        val out = t.span(name, layerName)(Materialize.round(op(df)))
        if (traced && KeptRatioSteps(name)) {
          val n = out.count()
          layer(s"operators.kept_ratio_$name") = n.toDouble / inRows.max(1L)
          inRows = n
        } else if (traced && name == "ingest") inRows = out.count()
        out
      })
    Model("perfbench", "curation")
      .step(step("ingest", "pipeline.step") { _ =>
        ArchiveIngest.read(spark, s"$dir/shards")
          .select(regexp_replace(col("name"), "\\.html$", "").cast("long").as("doc_id"),
            col("bytes").cast("string").as("html"))
      })
      .step(step("clean", "pipeline.step") { df =>
        val stripped = TextAnalysis.stripHtml(df, "html")
          .select(col("doc_id"), col("clean_text").as("text"))
        TextAnalysis.unicodeClean(stripped, "doc_id", "text")
          .select(col("doc_id"), regexp_replace(col("text_nfc"), "\\. ", ".\n").as("text"))
      })
      .step(step("quality", "pipeline.step") { df =>
        val c4 = TextAnalysis.c4Clean(df, "doc_id", "text")
          .where(col("doc_kept")).select(col("doc_id"), col("clean_text").as("text"))
        val gopher = TextAnalysis.gopherRules(c4, "doc_id", "text", minWords = 15)
          .where(col("keep")).select("doc_id")
        val entropy = TextAnalysis.charEntropy(c4, "text", "doc_id")
          .where(col("entropy") >= MinEntropy).select("doc_id")
        c4.join(gopher, "doc_id").join(entropy, "doc_id")
      }.copy(outputs = Seq("quality")))
      .step(step("dedup", "pipeline.step") { df =>
        val pairs = Dedup.ngramJaccardPairs(df, "text", "doc_id", n = 3, minJaccard = DedupJaccard)
        val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
        val dropped = comps.where(col("id") =!= col("component")).select(col("id").as("doc_id"))
        df.join(dropped, Seq("doc_id"), "left_anti")
      })
      .step(step("topic", "pipeline.step") { df =>
        val vec = udf((toks: Seq[String]) => toks.map(Curation.tokenVec))
        val docs = df.select(slice(split(col("text"), "\\s+"), 1, 50).as("tokens"))
          .select(col("tokens"), vec(col("tokens")).as("vecs"))
          .as[(Seq[String], Seq[Seq[Double]])]
        val tree = t.span("fit", "topic.fit") {
          TopicTree.fit(NodeSpec("root", Clustering, classes = Seq(0, 1, 2, 3)),
            docs.sample(0.25, a.seed))
        }
        val withToks = df.withColumn("tokens", slice(split(col("text"), "\\s+"), 1, 50))
        val scored = tree.transform(
            withToks.select(col("tokens"), vec(col("tokens")).as("vecs"))
              .as[(Seq[String], Seq[Seq[Double]])])
          .select(col("tokens"), expr("array_min(map_keys(map_filter(classScores, " +
            "(k, v) -> v = array_max(map_values(classScores)))))").cast("int").as("topic"))
        // transform keeps row order, so the class rides back by position
        val out = withToks.withColumn("_rn_", monotonically_increasing_id())
          .join(scored.withColumn("_rn_", monotonically_increasing_id()).drop("tokens"), "_rn_")
          .drop("_rn_", "tokens")
        t.span("transform", "topic.transform")(Materialize.round(out))
      })
      .step(step("link", "pipeline.step") { df =>
        // titles (first words of every 50th document) looked up from a
        // 5 % sample of the corpus; the matched title rides along
        val titles = df.where(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("title_id"),
            array_join(slice(split(col("text"), " "), 1, 4), " ").as("title"))
        val matches = FuzzyLookup.lookup(
            df.where(col("doc_id") % 20 === 0).select("doc_id", "text"), "text",
            titles, "title",
            FuzzyLookup.Options(strategy = "ngram", nNgrams = 3, minScore = 0.5,
              tieBreakCol = Some("title_id")))
          .where(col("title_id").isNotNull).select("doc_id", "title_id")
        df.join(matches, Seq("doc_id"), "left")
      }.copy(outputs = Seq("linked")))
      .step(step("decontam", "pipeline.step") { df =>
        val report = Contamination.overlapReport(df, "doc_id", "text", evalSet, "text",
          n = DecontamN)
        df.join(report.where(!col("contaminated")).select("doc_id"), "doc_id")
      }.copy(outputs = Seq("kept")))
      .step(step("pack", "pipeline.step") { df =>
        val counted = df.select(col("doc_id"), col("text"),
          size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
        Packing.packSequencesSharded(counted, "doc_id", "n_tokens", seqLen = SeqLen,
          numShards = 4)
      })
      .step(step("write", "pipeline.step") { df =>
        t.span("write", "sources.write") {
          TarShards.write(df.repartition(4, col("doc_id")), "doc_id", "text", out)
        }
        df.select("doc_id", "n_tokens", "seq_id", "seq_offset")
      })
  }

  /** One pipeline run; returns the packed table, the kept corpus and the
    * named step outputs. */
  private def runOnce(dir: String, out: String, traced: Boolean)
      : (DataFrame, Map[String, DataFrame], Long) = {
    val t0 = System.nanoTime()
    val res = t.span("pipeline", "pipeline.run")(model(dir, out, traced).run(spark.emptyDataFrame))
    val runWall = (System.nanoTime() - t0) / 1e9
    System.err.println(s"[perfbench] pipeline steps (ms): ${res.log.mkString(" ")}")
    if (traced) {
      val stepSum = t.spans.toArray(Array.empty[Span])
        .filter(s => s.layer == "pipeline.step" && s.request == t.request)
        .map(s => (s.end - s.start) / 1e9).sum
      layer("pipeline.overhead_s") += runWall - stepSum
    }
    (res.df, res.named, res.df.count())
  }

  /** Operator counts of a traced run, measured from outside the steps. */
  private def operatorCounts(named: Map[String, DataFrame]): Unit = {
    val quality = named("quality")
    val cand = Dedup.ngramCandidateVolume(quality, "text", "doc_id", n = 3,
      minJaccard = DedupJaccard).doubleValue
    val pairs = Dedup.ngramJaccardPairs(quality, "text", "doc_id", n = 3,
      minJaccard = DedupJaccard).count()
    layer("operators.dedup_candidates") = cand
    layer("operators.dedup_yield") = pairs / cand.max(1.0)
    val linked = named("linked")
    layer("operators.link_match_ratio") =
      linked.where(col("title_id").isNotNull).count().toDouble /
        linked.where(col("doc_id") % 20 === 0).count().max(1L)
  }

  def warm(): Unit = {
    runOnce(a.warm, s"${a.run}/tar-warm", traced = false)
    Workloads.dropCaches(spark)
  }

  def pass(n: Int, traced: Boolean): Seq[Main.Req] = {
    // the previous run's materialized steps are kept until now for the checks
    Workloads.dropCaches(spark)
    val id = s"req-$n-pipeline"
    if (traced) { spark.sparkContext.setJobGroup(id, "curation", interruptOnCancel = false); t.request = id }
    val out = s"${a.run}/tar-$n"
    val t0 = System.nanoTime()
    val result = try Some(t.span("curation", "request")(runOnce(a.data, out, traced)))
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] pipeline $id failed: $e"); e.printStackTrace()
      None
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (traced) { spark.sparkContext.clearJobGroup(); t.request = "" }
    result.foreach { case (packed, named, _) =>
      last = Some((packed, named("kept")))
      if (traced) {
        t.on = false
        layer("sources.write_mb") = dirBytes(out) / 1048576.0
        operatorCounts(named)
        t.on = true
      } else {
        runs += 1
        pipelineWall += wall
        digests += digest(packed)
      }
    }
    Seq(Main.Req("pipeline", wall, result.isDefined, result.map(_._3).getOrElse(-1L), traced))
  }

  private def digest(packed: DataFrame): String = {
    val rows = packed.select("doc_id", "n_tokens", "seq_id", "seq_offset")
      .collect().map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}")
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def check(reqs: Seq[Main.Req]): Map[String, Any] = last match {
    case None => Map("kind" -> "invariants", "ok" -> false, "failures" -> Seq("no pipeline output"))
    case Some((packed, kept)) =>
      import spark.implicits._
      val p = packed.select("doc_id", "n_tokens", "seq_id", "seq_offset")
        .as[(Long, Long, Long, Long)].collect()
      val k = kept.select("doc_id", "text").as[(Long, String)].collect()
      val evals = spark.read.parquet(s"${a.data}/evalset.parquet").select("text")
        .as[String].collect()
      val failures = Curation.invariants(p, k, evals)
      lastTexts = k.map(_._2).toSeq
      docsIn = ArchiveIngest.read(spark, s"${a.data}/shards").count()
      Map("kind" -> "invariants", "ok" -> failures.isEmpty, "failures" -> failures,
        "digests" -> digests.distinct.toSeq, "kept_docs" -> k.length,
        "packed_tokens" -> p.map(_._2).sum)
  }

  private var lastTexts: Seq[String] = Nil

  override def summary(reqs: Seq[Main.Req]): Seq[(String, Any)] = Seq(
    "docs_in" -> docsIn, "pipeline_runs" -> runs, "pipeline_wall_s" -> pipelineWall)

  override def layerMetrics(): Seq[(String, Any)] = {
    val self = t.spans.toArray(Array.empty[Span])
    def spanSum(layerName: String, name: String) =
      self.filter(s => s.layer == layerName && s.name == name).map(s => (s.end - s.start) / 1e9).sum
    Seq("clean", "quality", "dedup", "link", "decontam", "pack").map(s =>
      s"operators.${s}_s" -> spanSum("pipeline.step", s)) ++
      Seq("sources.ingest_s" -> spanSum("pipeline.step", "ingest"),
        "sources.write_s" -> spanSum("sources.write", "write"),
        "topic.fit_s" -> spanSum("topic.fit", "fit"),
        "topic.transform_s" -> spanSum("topic.transform", "transform")) ++
      layer.toSeq
  }

  def kernelStrings(): Seq[String] = lastTexts.take(2000)
  def kernelVectors(): Seq[Array[Float]] =
    lastTexts.take(200).flatMap(_.split("\\s+").take(10))
      .map(w => tokenVec(w).map(x => (x - 0.5).toFloat).toArray)
}

object Curation {
  val SeqLen = 512
  val DedupJaccard = 0.8
  val DecontamN = 8
  val MinEntropy = 2.5
  val VecDim = 16
  val KeptRatioSteps = Set("clean", "quality", "dedup", "decontam")
  /** Deterministic pseudo-embedding of a token (the topic step's input). */
  def tokenVec(tok: String): Seq[Double] = {
    val h = scala.util.hashing.MurmurHash3.stringHash(tok)
    (0 until VecDim).map(i => (scala.util.hashing.MurmurHash3.productHash((h, i)) % 1000) / 1000.0)
  }

  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L) else f.length
    walk(new java.io.File(path))
  }

  /** Output invariants of one pipeline run, computed independently of the
    * operators: packing bounds and token conservation, no near-duplicate
    * pair left, no n-gram shared with the eval set. */
  def invariants(packed: Array[(Long, Long, Long, Long)], kept: Array[(Long, String)],
                 evals: Array[String]): Seq[String] = {
    val f = mutable.ArrayBuffer[String]()
    // 1. sequences: documents occupy [seq*L + off, + n) contiguously
    val perSeq = mutable.Map[Long, Long]().withDefaultValue(0L)
    var next = 0L
    packed.sortBy(r => r._3 * SeqLen + r._4).foreach { case (id, n, seq, off) =>
      val start = seq * SeqLen + off
      if (start != next) f += s"doc $id starts at $start, expected $next"
      var pos = start
      while (pos < start + n) {
        val s = pos / SeqLen
        val take = math.min(start + n, (s + 1) * SeqLen) - pos
        perSeq(s) += take
        pos += take
      }
      next = start + n
    }
    perSeq.filter(_._2 > SeqLen).foreach { case (s, n) => f += s"sequence $s holds $n > $SeqLen tokens" }
    // 2. token conservation against the kept documents
    val keptTokens = kept.map { case (_, t) => t.split("\\s+").count(_.nonEmpty).toLong }.sum
    val packedTokens = packed.map(_._2).sum
    if (keptTokens != packedTokens) f += s"packed tokens $packedTokens != kept tokens $keptTokens"
    if (packed.map(_._1).toSet != kept.map(_._1).toSet) f += "packed doc ids differ from kept doc ids"
    // 3. no kept pair at or above the dedup threshold (exact 3-gram Jaccard)
    def grams(t: String, n: Int): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < n) Set(w.mkString(" ")) else w.sliding(n).map(_.mkString(" ")).toSet
    }
    val g = kept.map { case (id, t) => id -> grams(t, 3) }
    val index = mutable.Map[String, mutable.ArrayBuffer[Int]]()
    g.zipWithIndex.foreach { case ((_, gs), i) => gs.foreach(x => index.getOrElseUpdate(x, mutable.ArrayBuffer()) += i) }
    var dupPairs = 0
    g.indices.foreach { i =>
      val shared = mutable.Map[Int, Int]().withDefaultValue(0)
      g(i)._2.foreach(x => index(x).foreach(j => if (j > i) shared(j) += 1))
      shared.foreach { case (j, s) =>
        val jac = s.toDouble / (g(i)._2.size + g(j)._2.size - s)
        if (jac >= DedupJaccard) dupPairs += 1
      }
    }
    if (dupPairs > 0) f += s"$dupPairs kept pairs at jaccard >= $DedupJaccard"
    // 4. decontamination: zero shared n-grams with the eval set
    val evalGrams = evals.flatMap(e => grams(e, DecontamN)).toSet
    val leaked = kept.count { case (_, t) => grams(t, DecontamN).exists(evalGrams) }
    if (leaked > 0) f += s"$leaked kept docs share a $DecontamN-gram with the eval set"
    f.toSeq
  }
}
