package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The `embeddings` table q103d and q131 read, shaped like the repository's
  * sf0.1 test table: 2,000 rows of 64-dim float vectors, each an isotropic
  * Gaussian draw scaled to unit length, with a uniform label 0–9 that the
  * vectors do not depend on (so clusters and near-duplicates are as rare as
  * in sf0.1). The rows are a fixed corpus, so the queries' expected outputs
  * can be committed; the run seed only permutes the row order. The table is
  * one parquet file, as in sf0.1. The outputs are the same for every
  * permutation.
  */
object Corpus {
  val Rows = 2000
  val Dim = 64
  private val CorpusSeed = 20231009L

  private def embeddings(): Seq[Row] = {
    val rng = new SplittableRandom(CorpusSeed)
    (0 until Rows).map { i =>
      val v = Array.fill(Dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, rng.nextInt(10))
    }
  }

  private val Schema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Write the table under `dir` as `embeddings.parquet`. */
  def write(spark: SparkSession, dir: String, seed: Long): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(Shuffle(embeddings(), new SplittableRandom(seed)), 1), Schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
}
