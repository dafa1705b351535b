package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import HypercubeGen.{draw, mix}

/** Seeded generator of the curation corpus the `corpus_sf001` workload runs
  * on, in the parquet layout of the engine's `Tables` loaders:
  *
  *   - `documents` (doc_id, text, lang, source, n_chars): random text over
  *     a 32-word vocabulary, so two independent documents share almost no
  *     word 3-grams. Every document at position 25 mod 50 is a near-copy
  *     of one original earlier in its block of 50 (the original plus one
  *     appended word, word-3-gram Jaccard >= 8/9), so the Jaccard >= 0.7
  *     pair set is exactly `docs / 50` disjoint planted pairs;
  *   - `embeddings` (vec_id, embedding, label): 64-d random unit vectors
  *     and a random label in 0..9, the distribution of the engine's own
  *     test tables' embeddings;
  *   - `orders` (o_orderkey, o_custkey) and `lineitem` (l_orderkey,
  *     l_suppkey): the purchase graph PageRank walks.
  *
  * Values are SplitMix64 hashes of (seed, table, row, field), so the rows
  * are a pure function of (seed, shape). */
object CorpusGen {
  final case class Shape(docs: Int, vecs: Int, customers: Int, suppliers: Int,
      orders: Int, lineitems: Int)
  /** The engine's sf0.01 test tier sizes. */
  val Sf001: Shape = Shape(500, 500, 1500, 100, 15000, 60000)

  val Dim = 64
  val Vocab: IndexedSeq[String] = ("a batch big column customer data fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark stream table the " +
    "value vector window agg index page").split(' ').toIndexedSeq
  private val Langs = IndexedSeq("en", "en", "de", "es", "fr", "zh")

  def isPlanted(docId: Int): Boolean = docId % 50 == 25

  def documents(seed: Long, n: Int): IndexedSeq[(Long, String)] = {
    val words = new Array[Array[String]](n)
    for (i <- 0 until n) {
      words(i) =
        if (isPlanted(i)) {
          val orig = i - 1 - draw(seed, 10, i, 0, 0, 24)
          words(orig) :+ Vocab(draw(seed, 10, i, 1, 0, Vocab.size - 1))
        } else Array.tabulate(draw(seed, 11, i, 0, 10, 100))(j =>
          Vocab(draw(seed, 12, i.toLong * 128 + j, 0, 0, Vocab.size - 1)))
    }
    words.indices.map(i => (i.toLong, words(i).mkString(" ")))
  }

  /** Standard normal from two hashed uniforms (Box-Muller). */
  private def gauss(seed: Long, stream: Int, row: Long, field: Int): Double = {
    def u(f: Int) = ((mix(mix(seed * 31 + stream) ^ (row * 4096 + f)) >>> 11) + 1) / 9007199254740993.0
    math.sqrt(-2 * math.log(u(2 * field))) * math.cos(2 * math.Pi * u(2 * field + 1))
  }

  def embeddings(seed: Long, n: Int): IndexedSeq[(Long, Array[Float], Int)] =
    (0 until n).map { i =>
      val v = Array.tabulate(Dim)(d => gauss(seed, 22, i, d))
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), draw(seed, 21, i, 0, 0, 9))
    }

  def generate(spark: SparkSession, dir: String, seed: Long, shape: Shape): Unit = {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    val docs = documents(seed, shape.docs).map { case (id, text) =>
      Row(id, text, Langs(draw(seed, 13, id, 0, 0, Langs.size - 1)), s"src${id % 20}",
        text.length.toLong)
    }
    write(spark.createDataFrame(spark.sparkContext.parallelize(docs, 1), docSchema),
      s"$dir/documents.parquet")

    val embSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("label", IntegerType, nullable = false)))
    val vecs = embeddings(seed, shape.vecs).map { case (id, v, l) => Row(id, v.toSeq, l) }
    write(spark.createDataFrame(spark.sparkContext.parallelize(vecs, 1), embSchema),
      s"$dir/embeddings.parquet")

    // hash columns in Spark: the graph tables are too big to build as rows
    def pick(stream: Int, n: Int) =
      (pmod(xxhash64(lit(seed), lit(stream), col("id")), lit(n.toLong)) + 1).cast(LongType)
    write(spark.range(1, shape.orders + 1L, 1, 1)
      .select(col("id").as("o_orderkey"), pick(30, shape.customers).as("o_custkey")),
      s"$dir/orders.parquet")
    write(spark.range(0, shape.lineitems.toLong, 1, 1)
      .select(pick(31, shape.orders).as("l_orderkey"), pick(32, shape.suppliers).as("l_suppkey")),
      s"$dir/lineitem.parquet")
  }

  private def write(df: org.apache.spark.sql.DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}
