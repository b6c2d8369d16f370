package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core._
import graft.index.IndexIVF
import graft.query.{BatchSearcher, SearchOptions}

/** The index shape and the query-layer calls of serve_ingest. */
object Serving {
  val Tenant = 1L
  val Field = "colbert"
  val K = 10
  val Opts: SearchOptions = SearchOptions()

  def schema(numCentroids: Int): GSchema = GSchema(Seq(
    GField.colbert(Field, Gen.Dim, numCentroids, QuantizerKind.BINARIZER, numIterations = 4),
    GField.indexedStored("n_chars", GDataType.INTEGER)))

  /** (doc_id, score) rows per query id, in rank order. */
  type Results = Map[Long, Seq[(Long, Double)]]

  final case class Query(id: Long, tokens: Array[Array[Float]], term: Long)

  def readQueries(spark: SparkSession, path: String): Seq[Query] =
    spark.read.parquet(path).orderBy("query_id").collect().toSeq.map { r =>
      Query(r.getLong(0), r.getSeq[scala.collection.Seq[Float]](1).map(_.toArray).toArray,
        r.getLong(2))
    }

  /** A local frame of queries, as a serving client would hand over. */
  def queryFrame(spark: SparkSession, qs: Seq[Query]): DataFrame = {
    val schema = StructType(Seq(StructField("query_id", LongType, false),
      StructField("tokens", ArrayType(ArrayType(FloatType, false), false), false)))
    spark.createDataFrame(qs.map(q => Row(q.id, q.tokens.map(_.toSeq).toSeq)).asJava, schema)
  }

  /** One batch: the searchBatch call, then the collect of its frame. */
  def batch(ctx: Ctx, idx: IndexIVF, queries: DataFrame, layer: String): Results = {
    val df = ctx.tracer.span(s"$layer.call")(
      BatchSearcher.searchBatch(idx, Tenant, Field, queries, K, Opts))
    val rows = ctx.tracer.span(s"$layer.collect")(df.collect())
    rows.toSeq.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(r => (r.getLong(1), r.getDouble(2)))
    }
  }

  /** One single search (vector or filtered): the search call, then the collect. */
  def single(ctx: Ctx, idx: IndexIVF, node: graft.query.QueryNode,
      layer: String): Seq[(Long, Double)] = {
    val df = ctx.tracer.span(s"$layer.call")(idx.search(Tenant, node, K, Opts))
    ctx.tracer.span(s"$layer.collect")(df.select("doc_id", "score").collect())
      .toSeq.map(r => (r.getLong(0), r.getDouble(1)))
  }

  /** Share of the planted queries (query i = noisy copy of doc i) whose
    * source doc is in the top 5. */
  def successAt5(res: Results, planted: Seq[Long]): Double =
    planted.count(q => res.getOrElse(q, Nil).take(5).exists(_._1 == q)).toDouble / planted.size

  def sameRows(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean =
    a.map(_._1) == b.map(_._1) &&
      a.zip(b).forall { case ((_, x), (_, y)) => math.abs(x - y) < 1e-6 }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def parquetFiles(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
  }

  val Tables: Seq[String] = Seq("postings", "context", "docs", "scalars")

  /** Per-table bytes on disk, plus the point store's. */
  def diskBytes(rep: Report, idx: IndexIVF, pointStoreDir: String): Unit = {
    Tables.foreach(t =>
      rep.layers(s"index.disk_bytes.$t") = (dirBytes(Paths.get(idx.path, t)).toDouble, "bytes"))
    rep.layers("index.disk_bytes.pointstore") =
      (dirBytes(Paths.get(pointStoreDir)).toDouble, "bytes")
  }

  def heapUsedAfterGc(): Long = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
