package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic inputs. Every value is a function of (seed, id) only, so
  * the same seed gives the same files, and a delta doc does not depend on how
  * many docs came before it. The workload reads the inputs back from parquet;
  * nothing here runs while an op is timed. */
object Gen {
  val Dim = 128
  val TokensPerDoc = 8
  /** Planted topic clusters with power-law sizes: cluster = floor(C * u^3),
    * so cluster 0 holds about 10% of the docs. All tokens of a doc share its
    * cluster mean (iid U(-1,1) per dim); the intra-cluster jitter U(-1,1) is
    * confined to the first 16 dims, a low intrinsic dimension like real
    * embeddings. */
  val Clusters = 1024
  val IntrinsicDims = 16
  /** Full-dim jitter that turns doc i into query i. */
  val QueryNoise = 0.1
  val NumQueries = 212
  /** Distinct values of the filtered query's term field. */
  val TermValues = 64

  private def rng(seed: Long, salt: Long, id: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + id)

  private def u(r: SplittableRandom): Float = (r.nextDouble() * 2 - 1).toFloat

  final class Clustered(seed: Long) {
    private val means = Array.tabulate(Clusters) { c =>
      val r = rng(seed, 1, c)
      Array.fill(Dim)(u(r))
    }

    def doc(id: Long): Array[Array[Float]] = {
      val r = rng(seed, 2, id)
      val m = means(math.floor(Clusters * math.pow(r.nextDouble(), 3)).toInt)
      Array.fill(TokensPerDoc) {
        val v = m.clone()
        var d = 0
        while (d < IntrinsicDims) { v(d) += u(r); d += 1 }
        v
      }
    }

    def query(id: Long): Array[Array[Float]] = {
      val r = rng(seed, 3, id)
      doc(id).map(_.map(x => x + (QueryNoise * u(r)).toFloat))
    }
  }

  def termValue(id: Long): Long = (id * 31) % TermValues

  private val tokensType = ArrayType(ArrayType(FloatType, false), false)
  val docSchema: StructType = StructType(Seq(StructField("id", LongType, false),
    StructField("colbert", tokensType, false), StructField("n_chars", LongType, false)))
  val querySchema: StructType = StructType(Seq(StructField("query_id", LongType, false),
    StructField("tokens", tokensType, false), StructField("n_chars", LongType, false)))

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String,
      files: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.parquet(path)

  /** docs [from, until) of the clustered corpus: (id, colbert, n_chars). */
  def writeDocs(spark: SparkSession, c: Clustered, from: Long, until: Long, path: String,
      files: Int): Unit =
    write(spark, (from until until).map(i => Row(i, c.doc(i), termValue(i))),
      docSchema, path, files)

  /** query i = a noisy copy of doc i, for the given doc ids. */
  def writeQueries(spark: SparkSession, c: Clustered, ids: Seq[Long], path: String): Unit =
    write(spark, ids.map(i => Row(i, c.query(i), termValue(i))), querySchema, path, 1)

  // ---- text corpus: near-dup pairs, exact-dup clusters, hot buckets ----

  val Vocab = 1000
  val WordsPerDoc = 60
  /** Every chunk opens with this many copies of one text: an exact-dup
    * cluster whose LSH buckets and shingles exceed the pipelines' hot-key
    * caps in every chunk. */
  val DupCluster = 150
  val Chunk = 1000
  val StopPhrase = "the quick brown fox jumps "

  /** Doc 2g and 2g+1 outside a chunk's cluster are a planted near-dup pair:
    * the odd sibling differs in one middle word (shingle Jaccard about 0.9).
    * Every 10th pair carries a shared five-word prefix whose shingles reach
    * a document frequency of n/10. */
  def text(seed: Long, id: Long): String =
    if (id % Chunk < DupCluster) {
      val r = rng(seed, 4, id / Chunk)
      Array.fill(WordsPerDoc)("w" + r.nextInt(Vocab)).mkString(" ")
    } else {
      val g = id / 2
      val r = rng(seed, 5, g)
      val words = Array.fill(WordsPerDoc)("w" + r.nextInt(Vocab))
      if (id % 2 == 1) words(WordsPerDoc / 2) = "x" + r.nextInt(Vocab)
      val body = words.mkString(" ")
      if (g % 10 == 3) StopPhrase + body else body
    }

  def isPlantedPair(a: Long, b: Long): Boolean =
    a % 2 == 0 && b == a + 1 && a % Chunk >= DupCluster

  def plantedPairs(n: Long): Long = (0L until n by 2).count(a => isPlantedPair(a, a + 1)).toLong

  /** Distinct texts: one per chunk cluster plus every other doc. */
  def exactGroups(n: Long): Long = (0L until n).count(i => i % Chunk == 0 || i % Chunk >= DupCluster).toLong

  def writeTexts(spark: SparkSession, seed: Long, n: Long, path: String, files: Int): Unit = {
    val schema = StructType(Seq(StructField("doc_id", LongType, false),
      StructField("text", StringType, false), StructField("n_chars", LongType, false)))
    write(spark, (0L until n).map { i => val t = text(seed, i); Row(i, t, t.length.toLong) },
      schema, path, files)
  }
}
