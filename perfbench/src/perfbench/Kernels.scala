package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{TextKernels, VectorKernels}

/** The `functions` layer: warm-loop ns/call of the public kernels over the
  * workload's own strings and vectors, and ns/row of Spark's built-in
  * idiom for the same job run through a DataFrame. */
object Kernels {
  private var sink = 0L

  /** ns per call of `f`, after a warm-up of the same length. */
  private def loop(f: Int => Long): Double = {
    def run(ns: Long): (Long, Long) = {
      var i = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < ns) {
        var k = 0
        while (k < 64) { sink += f(i); i += 1; k += 1 }
      }
      (i.toLong, System.nanoTime() - t0)
    }
    run(150000000L)
    val (n, ns) = run(300000000L)
    ns.toDouble / n
  }

  def measure(spark: SparkSession, strings: Seq[String],
              vectors: Seq[Array[Float]]): Seq[(String, Any)] = {
    import spark.implicits._
    val texts = strings.filter(_ != null).toIndexedSeq
    val words = texts.flatMap(_.split("\\s+")).filter(_.nonEmpty).take(20000)
    val vecs = vectors.toIndexedSeq
    require(texts.nonEmpty && words.nonEmpty && vecs.nonEmpty,
      "kernel timings need strings and vectors")
    val nT = texts.size
    val nW = words.size
    val nV = vecs.size
    val planes = VectorKernels.hyperplanes(vecs.head.length, 16, 42L)
    val custom = Seq(
      "functions.tokenize_ns" -> loop(i => TextKernels.tokenize(texts(i % nT)).size),
      "functions.simplify_ns" -> loop(i => TextKernels.simplify(texts(i % nT)).length),
      "functions.boundedLevenshtein_ns" -> loop(i =>
        TextKernels.boundedLevenshtein(words(i % nW), words((i * 7 + 3) % nW), 2)),
      "functions.polyHash64_ns" -> loop(i => TextKernels.polyHash64(words(i % nW))),
      "functions.cosineF_ns" -> loop(i =>
        (VectorKernels.cosineF(vecs(i % nV), vecs((i + 1) % nV)) * 1e6).toLong),
      "functions.signSignature_ns" -> loop(i =>
        VectorKernels.signSignature(vecs(i % nV), planes)))

    // built-in idioms: enough rows that per-row cost dominates job overhead
    val reps = math.max(1, 200000 / nT)
    val textDf = spark.createDataset(texts).toDF("s")
      .withColumn("r", explode(sequence(lit(1), lit(reps)))).drop("r").cache()
    val wordDf = spark.createDataset(words.zip(words.drop(1) :+ words.head))
      .toDF("a", "b").withColumn("r", explode(sequence(lit(1), lit(math.max(1, 200000 / nW)))))
      .drop("r").cache()
    val nText = textDf.count().toDouble
    val nWord = wordDf.count().toDouble
    def perRow(df: org.apache.spark.sql.DataFrame, rows: Double, c: org.apache.spark.sql.Column): Double = {
      df.agg(sum(c)).collect()
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); df.agg(sum(c)).collect(); System.nanoTime() - t0
      }
      ts.sorted.apply(1) / rows
    }
    val builtin = Seq(
      "functions.tokenize_builtin_ns" ->
        perRow(textDf, nText, size(split(lower(col("s")), "[^a-z0-9]+"))),
      "functions.boundedLevenshtein_builtin_ns" ->
        perRow(wordDf, nWord, levenshtein(col("a"), col("b"), 2)),
      "functions.polyHash64_builtin_ns" ->
        perRow(wordDf, nWord, xxhash64(col("a")) % 1000))
    textDf.unpersist(); wordDf.unpersist()
    custom ++ builtin
  }
}
