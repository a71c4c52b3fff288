package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, map}

/** The serving corpus: the embeddings table `datagen.py` writes at scale
  * factor 0.1 (2,000 unit-norm 64d float32 vectors, `vec_id`, an integer
  * `label` in 0..9), read back from its parquet file. id = `vec_id`,
  * metadata `{"label": "<label>"}`. */
final class Corpus(val ids: Array[String], val vecs: Array[Array[Float]], val labels: Array[String]) {
  val byId: Map[String, Int] = ids.zipWithIndex.toMap
  def rows: Seq[(String, Array[Float])] = ids.indices.map(i => (ids(i), vecs(i)))
  def rowsWithLabel(l: String): Seq[(String, Array[Float])] =
    ids.indices.filter(labels(_) == l).map(i => (ids(i), vecs(i)))
}

object Corpus {
  val Dim = 64
  val Namespace = "bench"
  val K = 10
  /** A label value the table holds fewer than k rows of (it holds none):
    * the filter of the starved-filter class. */
  val StarvedLabel = "10"

  /** The table as a bulk-load frame: (id, values, metadata). */
  def frame(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("vec_id").as("id"), col("embedding").as("values"),
      map(lit("label"), col("label").cast("string")).as("metadata"))

  def load(spark: SparkSession, path: String): Corpus = {
    val rows = spark.read.parquet(path).orderBy("vec_id").collect()
    val c = new Corpus(rows.map(_.getAs[Long]("vec_id").toString),
      rows.map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray),
      rows.map(_.getAs[Int]("label").toString))
    require(c.vecs.forall(_.length == Dim), s"corpus vectors are not all ${Dim}d")
    require(c.rowsWithLabel(StarvedLabel).size < K, s"label $StarvedLabel matches k or more rows")
    c
  }

  private[perfbench] def gauss(rng: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - rng.nextDouble()
    val v = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  /** A query near corpus row `row`: the row plus seeded noise. */
  def queryNear(c: Corpus, rng: SplittableRandom, row: Int): Array[Float] = {
    val v = c.vecs(row)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x + 0.25 * norm * gauss(rng) / math.sqrt(Dim)).toFloat)
  }
}
