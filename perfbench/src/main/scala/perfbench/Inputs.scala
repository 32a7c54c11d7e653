package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Synthetic input tables, a pure function of their size. They have the
  * schemas and value shapes of the repository's `documents` and
  * `embeddings` test tables: word-salad documents over a 30-word
  * vocabulary with 5 % near-duplicates (an earlier doc plus the token
  * "dup"), and unit-norm 64-dim embeddings keyed by doc id. Like those
  * tables they come from one fixed generator seed: the workload seed
  * varies what a run does with them (splits, model seeds, which docs are
  * re-crawled), not the documents, so runs with different seeds do the
  * same amount of work. */
object Inputs {
  private val vocab = ("a the spark window merge table column vector stream " +
    "value data small join filter big group hash customer sort order slow " +
    "line part fast row agg key query scan batch").split(" ")
  private val langs = Array("en", "zh", "de", "fr", "es")
  private val langCdf = Array(0.41, 0.56, 0.70, 0.85, 1.0)

  private def rng(table: Int) = new java.util.Random(42L * 7919L + table)

  def documents(spark: SparkSession, n: Int) = {
    val r = rng(1)
    val texts = new Array[String](n)
    val rows = (0 until n).map { id =>
      texts(id) =
        if (id > 10 && r.nextDouble() < 0.05) texts(r.nextInt(id)) + " dup"
        else Array.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")
      val u = r.nextDouble()
      val lang = langs(langCdf.indexWhere(u < _))
      Row(id.toLong, texts(id), lang, s"src${id % 20}", texts(id).length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  def embeddings(spark: SparkSession, n: Int) = {
    val r = rng(2)
    val rows = (0 until n).map { id =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(id.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
  }
}
