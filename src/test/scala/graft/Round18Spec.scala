package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph, Materialize}

/** Round-18 hardening specs.
  *
  * Materializer lanes (VERDICT r17 "What's wrong #1"): the iterative
  * operators' per-round materialization is pluggable — `localCheckpoint`
  * locally, reliable `checkpoint()` when a checkpoint dir is set — and the
  * two lanes must be BIT-IDENTICAL on the gated fixtures (the switch moves
  * storage blocks, never data). Test order matters: the no-dir raise must
  * run before any test sets the JVM-global checkpoint dir.
  */
class Round18Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import spark.implicits._

  test("materializer: reliable lane without a checkpoint dir raises by name") {
    assume(spark.sparkContext.getCheckpointDir.isEmpty,
      "another test already set the JVM-global checkpoint dir")
    val s2 = spark.newSession()
    s2.conf.set(Materialize.ConfKey, "reliable")
    import s2.implicits._
    val df = Seq(1L, 2L).toDF("x")
    val e = intercept[IllegalArgumentException](Materialize.round(df))
    assert(e.getMessage.contains("setCheckpointDir"))
    assert(e.getMessage.contains(Materialize.ConfKey))
  }

  test("materializer: unknown lane raises by name") {
    val s2 = spark.newSession()
    s2.conf.set(Materialize.ConfKey, "ram")
    import s2.implicits._
    val df = Seq(1L).toDF("x")
    val e = intercept[IllegalArgumentException](Materialize.round(df))
    assert(e.getMessage.contains("auto|local|reliable"))
  }

  test("materializer: reliable lane is bit-identical on pageRank/CC/kCore " +
    "fixtures and actually writes checkpoints") {
    // Pin the SHARED session to the local lane BEFORE setting the
    // JVM-global checkpoint dir: `auto` + dir would silently flip every
    // other suite onto the reliable lane (same results, pointless disk
    // churn for the rest of the test JVM).
    spark.conf.set(Materialize.ConfKey, "local")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-r18")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
    val reliable = spark.newSession()
    reliable.conf.set(Materialize.ConfKey, "reliable")

    // every operator on the superstep loop, on one random fixture
    def inSession(s: SparkSession): Seq[(String, Set[Seq[Any]])] = {
      val e = {
        val rnd = new scala.util.Random(18)
        val rows = (1 to 400).map { _ =>
          (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)
        }
        s.createDataFrame(rows).toDF("src", "dst")
      }
      val pairs = e.where(col("src") =!= col("dst"))
      val seeds = s.createDataFrame(Seq(Tuple1(0L), Tuple1(7L))).toDF("id")
      val weighted = e.withColumn("w", (col("src") + col("dst")) % 5 + 1)
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
      Seq(
        "pageRankInt" -> rows(Graph.pageRankInt(e, "src", "dst", iterations = 3)),
        "personalizedPageRankInt" -> rows(Graph.personalizedPageRankInt(
          e, "src", "dst", seeds, iterations = 3)),
        // driverThreshold = 0 forces the distributed fixpoint (the lane
        // under test); the driver fast path never materializes rounds
        "connectedComponents" -> rows(Dedup.connectedComponents(
          pairs, "src", "dst", driverThreshold = 0L)),
        "connectedComponentsStar" -> rows(Dedup.connectedComponentsStar(
          pairs, "src", "dst")),
        "kCore" -> rows(Graph.kCore(e, "src", "dst", k = 3)),
        "labelPropagation" -> rows(Graph.labelPropagation(e, "src", "dst",
          iterations = 3)),
        "bfsDistances" -> rows(Graph.bfsDistances(e, "src", "dst", seeds,
          maxHops = 10)),
        "ssspInt" -> rows(Graph.ssspInt(weighted, "src", "dst", "w", seeds,
          rounds = 4)),
        "hitsInt" -> rows(Graph.hitsInt(e, "src", "dst", iterations = 2)))
    }
    inSession(spark).zip(inSession(reliable)).foreach {
      case ((op, local), (_, onReliable)) =>
        assert(onReliable == local, s"$op differs between materializer lanes")
        assert(local.nonEmpty, s"$op fixture is empty")
    }
    // the reliable lane really checkpointed (files under the dir)
    val wrote = java.nio.file.Files.walk(dir).filter(p =>
      java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, s"reliable lane left no checkpoint files in $dir")
    } finally {
      // clear the JVM-GLOBAL checkpoint dir (r18 ADVICE: leaving it set
      // silently flips every later 'auto'-lane session in this test JVM
      // onto the reliable lane — identical results, pointless disk
      // churn) and un-pin the shared session's lane override. null →
      // checkpointDir = None; safe on a local master, where the non-local
      // path warning's directory inspection is short-circuited.
      spark.sparkContext.setCheckpointDir(null)
      spark.conf.unset(Materialize.ConfKey)
    }
  }

  // ---- fz02 candidate-explosion guard (VERDICT r17 "What's wrong #3") ----

  private def hotVocabFixture = {
    import graft.operators.FuzzyLookup
    // 40 DISTINCT queries all sharing token "acme" (the memoized unit is
    // the distinct query set, so the shared token's left df is 40), and
    // 40 catalog rows sharing it too: projected volume >= 40*40 = 1600
    val left = (1 to 40).map(i => s"acme q$i").toDF("q")
    val right = (1 to 40).map(i => s"acme r$i").toDF("text")
    (left, right)
  }

  test("fuzzy candidate guard: raises by name on projected explosion, " +
    "naming maxDfRatio and autoDfRatio") {
    import graft.operators.FuzzyLookup
    val (left, right) = hotVocabFixture
    val e = intercept[IllegalArgumentException] {
      FuzzyLookup.lookup(left, "q", right, "text",
        FuzzyLookup.Options(candidateBound = 1000L))
    }
    assert(e.getMessage.contains("maxDfRatio"))
    assert(e.getMessage.contains("autoDfRatio"))
    assert(e.getMessage.contains("candidateBound"))
  }

  test("fuzzy candidate guard: dormant at the default bound — output " +
    "identical to the guard-disabled lane") {
    import graft.operators.FuzzyLookup
    val (left, right) = hotVocabFixture
    def run(bound: Long) = FuzzyLookup.lookup(left, "q", right, "text",
      FuzzyLookup.Options(candidateBound = bound))
      .select(col("q"), col("text"), col("_score_"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getFloat(2)))
      .toSet
    assert(run(FuzzyLookup.CandidatePairBound) == run(0L))
  }

  test("autoDfRatio: clamps to [1/rightRows, 1] and scales as " +
    "bound/(leftTokens*rightRows) between") {
    import graft.operators.FuzzyLookup.autoDfRatio
    assert(autoDfRatio(100L, 10L) == 1.0) // tiny inputs: nothing to prune
    val mid = autoDfRatio(1000000L, 1000000L, pairBound = 1L << 27)
    assert(math.abs(mid - (1L << 27).toDouble / 1e12) < 1e-12)
    // floor: never below one document's worth of df
    assert(autoDfRatio(1000000L, Long.MaxValue / 4) == 1.0 / 1000000L)
    intercept[IllegalArgumentException](autoDfRatio(0L, 10L))
  }

  // ---- round-18 hardening wave: never-audited operator files ----------

  test("sampling: NULL/non-numeric ids raise by name instead of winning " +
    "admission or landing in shard NULL") {
    import graft.operators.Sampling
    val dirty = Seq((Some(1L), "a"), (None, "a"), (Some(3L), "a"))
      .toDF("id", "g")
    def named(f: => Any) = {
      val e = intercept[Exception](f)
      assert(e.getMessage.contains("non-numeric or non-integral id"),
        e.getMessage)
    }
    named(Sampling.shuffleShards(dirty, "id", 4).collect())
    named(Sampling.groupSample(dirty, "id", "g", 2).collect())
    named(Sampling.weightedPrioritySample(
      dirty.withColumn("w", lit(1L)), "id", "g", "w", 2).collect())
    named(Sampling.temperatureMix(dirty, "id", "g", 2).collect())
    // clean data unchanged: the guard is dormant
    val clean = Seq((1L, "a"), (2L, "a"), (3L, "a")).toDF("id", "g")
    assert(Sampling.groupSample(clean, "id", "g", 2).count() == 2)
    intercept[IllegalArgumentException](
      Sampling.shuffleShards(clean, "id", 0))
  }

  test("sketch: hllRegisters raises by name on NULL id; kmvSetOps bounds " +
    "its quadratic group-pair join") {
    import graft.operators.Sketch
    val dirty = Seq((Some(1L), "a"), (None, "a")).toDF("id", "g")
    val e = intercept[Exception](
      Sketch.hllRegisters(dirty, Seq("g"), "id").collect())
    assert(e.getMessage.contains(
      "hllRegisters: NULL, non-numeric or non-integral id"))
    // clean lane unchanged
    val clean = (1L to 100L).map((_, "a")).toDF("id", "g")
    assert(Sketch.hllRegisters(clean, Seq("g"), "id").count() > 0)
    // group-cardinality probe: 5 groups pass at default, raise at bound 3
    val multi = (1L to 50L).map(i => (i, s"g${i % 5}")).toDF("id", "g")
    assert(Sketch.kmvSetOps(multi, "g", "id", k = 4).count() == 10)
    val e2 = intercept[IllegalArgumentException](
      Sketch.kmvSetOps(multi, "g", "id", k = 4, maxGroups = 3))
    assert(e2.getMessage.contains("maxGroups"))
    // opt-out still works
    assert(Sketch.kmvSetOps(multi, "g", "id", k = 4, maxGroups = 0)
      .count() == 10)
    // Int.MaxValue must behave as "effectively unbounded", not wrap the
    // probe's limit negative (self-review finding)
    assert(Sketch.kmvSetOps(multi, "g", "id", k = 4,
      maxGroups = Int.MaxValue).count() == 10)
  }

  test("ngramJaccardPairs candidate guard: raises by name on saturated " +
    "vocabulary, dormant on the gated shape") {
    import graft.operators.Dedup
    // saturated vocab: 60 docs over a 3-word vocabulary — every trigram
    // is shared by ~all docs, the sf10 failure shape in miniature
    val salad = (1 to 60).map(i =>
      (i.toLong, Seq.fill(12)(Seq("a", "b", "c")((i + 1) % 3)).mkString(" ")))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.ngramJaccardPairs(salad, "text", "doc_id", n = 3,
        minJaccard = 0.8, candidatePairBound = 100L))
    assert(e.getMessage.contains("candidatePairBound"))
    assert(e.getMessage.contains("minHashLshPairs"))
    // dormant: default bound output == guard-disabled output
    def run(b: Long) = Dedup.ngramJaccardPairs(salad, "text", "doc_id",
      n = 3, minJaccard = 0.8, candidatePairBound = b)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(run(1L << 27) == run(0L))
  }

  test("fuzzy candidate guard: the VARIANT lane raises when exact token " +
    "sets are disjoint but deletion variants collide") {
    import graft.operators.FuzzyLookup
    // serial-number vocabulary: every left token "sn<i>x" and right token
    // "sn<j>y" is unique (exact projection = 0), but deleting the last
    // char collides every pair on "sn<i>" only when i == j — so build
    // them to SHARE the deletable core: left "core<i>a", right "core<i>b"
    // share variant "core<i>" pairwise; 30 x 30 same-core rows explode
    val left = (1 to 30).map(i => s"corea q$i").toDF("q")
    val right = (1 to 30).map(i => s"coreb r$i").toDF("text")
    val e = intercept[Exception] {
      FuzzyLookup.lookup(left, "q", right, "text",
        FuzzyLookup.Options(maxLevDistance = 1, candidateBound = 100L))
    }
    assert(e.getMessage.contains("FUZZY candidate volume"), e.getMessage)
    // dormant at the default bound: identical output to guard-disabled
    def run(b: Long) = FuzzyLookup.lookup(left, "q", right, "text",
      FuzzyLookup.Options(maxLevDistance = 1, candidateBound = b))
      .select(col("q"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(run(FuzzyLookup.CandidatePairBound) == run(0L))
  }

  test("geo: inverted bbox raises as corrupt geometry by name") {
    import graft.operators.Geo
    val pts = Seq((0.5, 0.5)).toDF("x", "y")
    val poly = Seq((5.0, -5.0, 0.0, 1.0, Seq(0.0, 0.0, 1.0, 0.0, 1.0, 1.0)))
      .toDF("minX", "maxX", "minY", "maxY", "ring")
    val e = intercept[IllegalArgumentException](
      Geo.pointInPolygonJoin(pts, "x", "y", poly, cellSize = 1.0))
    assert(e.getMessage.contains("inverted bbox"))
  }

  test("longIdOrRaise: fractional and NaN ids raise instead of silently " +
    "flooring; snowflake-scale longs pass") {
    import graft.operators.Sampling
    val frac = Seq(1.1, 1.9).toDF("id")
    val e = intercept[Exception](
      Sampling.shuffleShards(frac, "id", 4).collect())
    assert(e.getMessage.contains("non-integral"), e.getMessage)
    val nan = Seq(Double.NaN).toDF("id")
    intercept[Exception](Sampling.shuffleShards(nan, "id", 4).collect())
    // integral doubles pass; huge longs (past 2^53) pass via the
    // schema-aware integral fast path
    val okD = Seq(3.0, 4.0).toDF("id")
    assert(Sampling.shuffleShards(okD, "id", 4).count() == 2)
    val okL = Seq(Long.MaxValue - 1, 9007199254740995L).toDF("id")
    assert(Sampling.shuffleShards(okL, "id", 4).count() == 2)
  }

  test("workspace legend opt-out: <= 0 disables the bound and " +
    "Int.MaxValue does not wrap the probe limit") {
    import graft.pipeline.Workspace
    import graft.pipeline.Workspace._
    val model = WsModel(Nil,
      Seq(WsTable("T", "", Seq(
        WsField("g", "string", "g", None, None, None, None),
        WsField("l", "string", "l", None, None, None, None),
        WsField("v", "bigint", "v", None, None, None, None)))),
      Seq(WsReport("r", "T", Seq("g"), Seq(WsMeasure("v", "sum")),
        None, Some("l"))))
    val data = (1 to 30).map(i => ("a", s"l$i", i.toLong)).toDF("g", "l", "v")
    assert(Workspace.runReport(model, "r", Map("T" -> data),
      maxLegendValues = 0).count() == 1)
    assert(Workspace.runReport(model, "r", Map("T" -> data),
      maxLegendValues = Int.MaxValue).count() == 1)
  }

  test("mergeInto: NULL batch keys are named, not misdiagnosed as " +
    "duplicates") {
    import graft.operators.CopyOnWrite
    val dir = java.nio.file.Files.createTempDirectory("graft-cow-r18c").toString
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite").parquet(dir)
    val batch = Seq((Some(2L), "b"), (None, "x")).toDF("k", "v")
    val e = intercept[IllegalArgumentException](
      CopyOnWrite.mergeInto(spark, dir, batch, "k", epoch = 9L))
    assert(e.getMessage.contains("NULL 'k' key"), e.getMessage)
  }

  test("tuning: fold/bin parameter guards + dirty score/label raises") {
    import graft.operators.Tuning
    val df = Seq((0.9, 1), (0.2, 0), (0.7, 1)).toDF("s", "y")
    intercept[IllegalArgumentException](Tuning.assignFolds(df, 0, 7L))
    intercept[IllegalArgumentException](
      Tuning.assignFoldsStable(df, 0, Seq("s"), 7L))
    intercept[IllegalArgumentException](Tuning.trainTest(df, 3, 3, 7L))
    intercept[IllegalArgumentException](
      Tuning.optimizeThreshold(df, "s", "y", bins = 1))
    // clean lane still works end to end
    val m = Tuning.optimizeThreshold(df, "s", "y")
    assert(m.tp == 2 && m.fn == 0)
    val nan = Seq((Double.NaN, 1), (0.2, 0)).toDF("s", "y")
    val e = intercept[Exception](Tuning.optimizeThreshold(nan, "s", "y"))
    assert(e.getMessage.contains("non-finite"))
    val badLabel = Seq((0.9, 2), (0.2, 0)).toDF("s", "y")
    val e2 = intercept[Exception](Tuning.optimizeThreshold(badLabel, "s", "y"))
    assert(e2.getMessage.contains("label must be 0 or 1"))
  }

  test("mergeInto: duplicate batch keys and non-unique base keys raise " +
    "by name; clean upsert unchanged") {
    import graft.operators.CopyOnWrite
    val dir = java.nio.file.Files.createTempDirectory("graft-cow-r18").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    // clean upsert: update k=2, insert k=3
    val m = CopyOnWrite.mergeInto(spark,
      dir, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), "k", epoch = 1L)
      .collect().head
    assert(m.getLong(2) == 1 && m.getLong(3) == 1) // n_updated, n_inserted
    val after = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(after == Set((1L, "a"), (2L, "B"), (3L, "c")))
    // duplicate batch keys
    val e = intercept[IllegalArgumentException](CopyOnWrite.mergeInto(spark,
      dir, Seq((2L, "x"), (2L, "y")).toDF("k", "v"), "k", epoch = 2L))
    assert(e.getMessage.contains("duplicate batch keys"))
    // non-unique base
    val dir2 = java.nio.file.Files.createTempDirectory("graft-cow-r18b").toString
    Seq((1L, "a"), (1L, "a2")).toDF("k", "v")
      .write.mode("overwrite").parquet(dir2)
    val e2 = intercept[IllegalArgumentException](CopyOnWrite.mergeInto(spark,
      dir2, Seq((1L, "z")).toDF("k", "v"), "k", epoch = 3L))
    assert(e2.getMessage.contains("not key-unique"))
  }

  test("discreteVectorClassifier: empty fit and wrong-width vectors " +
    "raise by name") {
    import graft.operators.DiscreteVectorClassifier
    import org.apache.spark.ml.linalg.Vectors
    val empty = Seq.empty[(org.apache.spark.ml.linalg.Vector,
      org.apache.spark.ml.linalg.Vector)].toDF("features", "labels")
    val e = intercept[IllegalArgumentException](
      DiscreteVectorClassifier.fit(empty, "features", "labels"))
    assert(e.getMessage.contains("empty training frame"))
    val train = Seq(
      (Vectors.dense(1.0, 0.0), Vectors.dense(1.0)),
      (Vectors.dense(0.0, 1.0), Vectors.dense(0.0)),
      (Vectors.dense(0.9, 0.1), Vectors.dense(1.0)),
      (Vectors.dense(0.1, 0.9), Vectors.dense(0.0))).toDF("features", "labels")
    val model = DiscreteVectorClassifier.fit(train, "features", "labels",
      parallelism = 1)
    assert(model.transform(train, "features").count() == 4)
    val wrong = Seq(Tuple1(Vectors.dense(1.0, 0.0, 0.0))).toDF("features")
    val e2 = intercept[Exception](
      model.transform(wrong, "features").collect())
    assert(e2.getMessage.contains("trained on"))
    // dirty label vector in a LATER row fails by name during fit, not as
    // a bare NPE in the executor (self-review finding)
    val dirtyLater = Seq(
      (Vectors.dense(1.0, 0.0), Vectors.dense(1.0)),
      (Vectors.dense(0.0, 1.0), Vectors.dense(0.0, 1.0))
    ).toDF("features", "labels")
    val e3 = intercept[Exception](
      DiscreteVectorClassifier.fit(dirtyLater, "features", "labels",
        parallelism = 1))
    val msgs = Iterator.iterate[Throwable](e3)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("label vector has"), msgs.take(500))
  }

  test("checkpoint name escaping: decode(encode(x)) == x for names that " +
    "LOOK like escapes") {
    import graft.sources.Checkpoint
    for (n <- Seq(">>65<<", "a>b", "x<y", "plain", "has space", "a=b",
      ">>62<<")) {
      assert(Checkpoint.decodeName(Checkpoint.encodeName(n)) == n, n)
    }
    // the round-trip through a real parquet write restores the name
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-name").toString
    val df = Seq((1L, 2L)).toDF(">>65<<", "b c")
    val back = Checkpoint.checkpoint(df, s"$dir/t")
    assert(back.columns.toSet == Set(">>65<<", "b c"))
  }

  test("fuzzy lane: a blob-like mega-token raises by name; normal fuzzy " +
    "lookups unchanged") {
    import graft.operators.FuzzyLookup
    val blob = "x" * 600
    val left = Seq(s"alpha $blob").toDF("q")
    val right = Seq("alpha one").toDF("text")
    val e = intercept[Exception](FuzzyLookup.lookup(left, "q", right, "text",
      FuzzyLookup.Options(maxLevDistance = 1)).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("char token exceeds"), msgs.take(300))
    // dormant: the same lookup with normal tokens still fuzzes
    // ("alphx" ~ "alpha" is one substitution — inside maxLevDistance = 1)
    val ok = FuzzyLookup.lookup(Seq("alphx").toDF("q"), "q", right, "text",
      FuzzyLookup.Options(maxLevDistance = 1)).collect()
    assert(ok.length == 1 && ok.head.getAs[String]("text") == "alpha one")
  }

  test("workspace legend: an id-cardinality legend raises by name, a " +
    "categorical legend still pivots") {
    import graft.pipeline.Workspace
    import graft.pipeline.Workspace._
    val model = WsModel(Nil,
      Seq(WsTable("T", "", Seq(
        WsField("g", "string", "g", None, None, None, None),
        WsField("l", "string", "l", None, None, None, None),
        WsField("v", "bigint", "v", None, None, None, None)))),
      Seq(WsReport("r", "T", Seq("g"), Seq(WsMeasure("v", "sum")),
        None, Some("l"))))
    val data = (1 to 50).map(i => ("a", s"l$i", i.toLong)).toDF("g", "l", "v")
    val e = intercept[IllegalArgumentException](
      Workspace.runReport(model, "r", Map("T" -> data),
        maxLegendValues = 10))
    assert(e.getMessage.contains("distinct"))
    assert(Workspace.runReport(model, "r", Map("T" -> data)).count() == 1)
  }

  test("model run: unknown stopAfter and missing named input raise by name") {
    import graft.pipeline.{Model, Step}
    val m = Model("p", "m")
      .step("s1", df => df)
      .step(Step("s2", (df, _) => df, input = Some("side")))
    val src = Seq(1L).toDF("x")
    val e = intercept[IllegalArgumentException](
      m.run(src, stopAfter = Some("nope")))
    assert(e.getMessage.contains("stopAfter step 'nope'"))
    val e2 = intercept[IllegalArgumentException](m.run(src))
    assert(e2.getMessage.contains("named input 'side'"))
    // clean lane: providing the named input works
    assert(m.run(src, Map("side" -> src)).df.count() == 1)
  }

  test("releaseIndex fence: unreleased-index counter counts only " +
    "releaseIndex=false calls") {
    import graft.operators.FuzzyLookup
    val left = Seq("alpha", "beta").toDF("q")
    val right = Seq("alpha one", "beta two").toDF("text")
    val before = FuzzyLookup.unreleasedIndexCount
    FuzzyLookup.lookup(left, "q", right, "text",
      FuzzyLookup.Options(releaseIndex = true)).count()
    assert(FuzzyLookup.unreleasedIndexCount == before)
    FuzzyLookup.lookup(left, "q", right, "text",
      FuzzyLookup.Options(releaseIndex = false)).count()
    assert(FuzzyLookup.unreleasedIndexCount == before + 1)
  }
}
