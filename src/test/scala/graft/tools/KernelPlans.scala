package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan-evidence dump for the r20 kernel rewrites (dd11/em01): the
  * phases run eagerly inside `semanticDedup`, so query-level explain
  * never shows them — this prints (1) the nearest-centroid assignment
  * plan (tight-loop UDF + k-row broadcast label join: NO crossJoin, NO
  * n×k intermediate, no aggregate exchange) and (2) the pair-cosine
  * filter plan (`dot_product` inside a WholeStageCodegen span — the
  * zip_with/aggregate form it replaced was interpreted per element).
  * Test-scoped harness tooling. */
object KernelPlans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val vecs = (1L to 64L).map(i =>
      (i, Seq(i.toFloat / 64f, 1f - i.toFloat / 64f)))
      .toDF("vec_id", "embedding")
    val cent = Seq((0, 0, 0L, 2L), (0, 1, 0L, 2L),
      (1, 0, 2000L, 2L), (1, 1, 2000L, 2L)).toDF("label", "pos", "s", "n")

    println("\n########## assignNearestCentroid (r20 tight-loop argmin) ##########")
    graft.operators.Similarity.assignNearestCentroid(
      vecs, "vec_id", "embedding", cent).explain("formatted")

    println("\n########## pair cosine via dot_product (codegen) ##########")
    val side = vecs.select(col("vec_id"), col("embedding").as("_u_"))
    side.as("a").join(side.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", org.apache.spark.sql.GraftFunctions.dot_product(
        col("a._u_"), col("b._u_")))
      .where(col("cosine") >= 0.45)
      .select(col("a.vec_id"), col("b.vec_id"))
      .explain("formatted")

    spark.stop()
  }
}
