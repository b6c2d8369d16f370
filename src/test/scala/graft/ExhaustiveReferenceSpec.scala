package graft

import graft.core._
import graft.index.IndexIVF
import graft.query._
import graft.scoring.Plaid
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** An exhaustive reference that shares no code with either search path:
  * the context table is decoded on the driver, phase-1 is
  * [[Plaid.colbertCentroidScore]] over a [[graft.quantizers.CoarseQuantizer
  * .scoreBlock]] matrix, the cut keeps numSecondPass candidates by
  * (score desc, doc_id asc), the survivors rerank with
  * [[Plaid.scoreByResiduals]] over their decoded residuals, and the top k
  * by the same order is the answer. `idx.search` (vector leaf, And, Or) and
  * `searchBatch` must both return its rows under all-probe options. */
class ExhaustiveReferenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val dim = 16
  val nc = 8
  val rnd = new scala.util.Random(101)
  val corpus: Map[Long, Seq[Seq[Float]]] = (0L until 40L).map { i =>
    i -> Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
  }.toMap

  lazy val idx: IndexIVF = {
    import spark.implicits._
    val docs = corpus.toSeq.sortBy(_._1).map { case (i, t) =>
      Doc(i, t, if (i % 2 == 0) "even" else "odd", i % 3)
    }.toDF()
    val path = java.nio.file.Files.createTempDirectory("idx_exref").toString
    val ix = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = nc,
        quantization = QuantizerKind.BINARIZER, numIterations = 4, nbits = 2),
      GField(name = "cat", dataType = GDataType.TEXT.toString,
        roles = Seq(FieldRole.Indexed.toString, FieldRole.Stored.toString)),
      GField.indexed("num", GDataType.INTEGER))))
    ix.train(docs)
    ix.add(tenant = 1, docs)
    ix
  }

  /** Every centroid probed; a numSecondPass cut below the candidate count. */
  val allProbe = SearchOptions(kTopCentroids = nc, nProbe = nc, numSecondPass = 6)

  /** Two noisy doc copies and one wide query (20 tokens, past a 16-lane
    * SIMD width) so both kernel branches are compared. */
  lazy val queries: Seq[(Long, Array[Array[Float]])] = {
    val r = new scala.util.Random(7)
    def noisy(d: Long) = corpus(d).map(_.map(v => v + (r.nextFloat() - 0.5f) * 0.2f).toArray)
    Seq(3L -> noisy(3L).toArray, 22L -> noisy(22L).toArray,
      100L -> (0L until 5L).flatMap(d => corpus(d).map(_.toArray)).toArray)
  }

  /** The decoded context of tenant 1: doc_id -> (codes, decoded tokens). */
  lazy val context: Map[Long, (Array[Long], Array[Float])] = {
    val quant = idx.quantizers("colbert")
    idx.contextDf
      .filter(col("tenant") === 1L && col("field") === idx.mapper.id("colbert"))
      .select("doc_id", "doc_codes", "doc_residuals").collect()
      .map { r =>
        val codes = r.getSeq[Long](1).toArray
        val res = r.getAs[Array[Byte]](2)
        val toks = new Array[Float](codes.length * dim)
        codes.indices.foreach { i =>
          System.arraycopy(quant.decode(java.util.Arrays.copyOfRange(
            res, i * quant.codeSize, (i + 1) * quant.codeSize)), 0, toks, i * dim, dim)
        }
        r.getLong(0) -> (codes, toks)
      }.toMap
  }

  lazy val termDocs: Set[Long] = corpus.keySet.filter(_ % 2 == 0)

  private def byScore(rows: Seq[(Long, Double)]): Seq[(Long, Double)] =
    rows.sortBy { case (id, s) => (-s, id) }

  /** Phase-1 scores of the query's candidates. Probing every centroid
    * leaves only the planner's score > 0 prune: a doc is a candidate iff
    * one of its codes has a positive score for some query token. */
  private def phase1(q: Array[Array[Float]]): Map[Long, Double] = {
    val nq = q.length
    val m = idx.coarse("colbert").scoreBlock(q.flatten, nq)
    val probed = (0 until nc).filter(c => (0 until nq).exists(k => m(k * nc + c) > 0f)).toSet
    context.collect { case (id, (codes, _)) if codes.exists(c => probed(c.toInt)) =>
      id -> Plaid.colbertCentroidScore(codes, m, nq, nc).toDouble
    }
  }

  private def exact(q: Array[Array[Float]], id: Long): Double = {
    val (codes, toks) = context(id)
    Plaid.scoreByResiduals(q.flatten, q.length, toks.clone(), codes.length, dim,
      normalize = true).toDouble
  }

  /** Cut the combined phase-1 rows at nsp, rerank the docs the vector leaf
    * matched (the rest score 0), then top k. */
  private def reference(q: Array[Array[Float]], combined: Map[Long, Double],
      vecMatched: Set[Long], k: Int, opts: SearchOptions): Seq[(Long, Double)] = {
    val pool = byScore(combined.toSeq).take(opts.numSecondPass)
    if (!opts.secondPass) pool.take(k)
    else byScore(pool.map { case (id, _) =>
      id -> (if (vecMatched(id)) exact(q, id) else 0.0)
    }).take(k)
  }

  private def vectorRef(q: Array[Array[Float]], k: Int, opts: SearchOptions) = {
    val p1 = phase1(q)
    reference(q, p1, p1.keySet, k, opts)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def assertRows(got: Seq[(Long, Double)], want: Seq[(Long, Double)],
      what: String): Unit = {
    assert(want.nonEmpty, s"$what: the reference is empty, the fixture is broken")
    assert(got.map(_._1) == want.map(_._1), s"$what: doc ranking $got vs $want")
    got.zip(want).foreach { case ((id, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-6, s"$what: score of doc $id, $a vs $b")
    }
  }

  private def batch(opts: SearchOptions, k: Int): Map[Long, Seq[(Long, Double)]] = {
    import spark.implicits._
    BatchSearcher.searchBatch(idx, 1, "colbert",
      queries.map { case (qid, t) => (qid, t.map(_.toSeq).toSeq) }.toDF("query_id", "tokens"),
      k, opts)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
  }

  test("the fixture exercises the cut: more candidates than numSecondPass") {
    queries.foreach { case (qid, q) =>
      assert(phase1(q).size > allProbe.numSecondPass, s"query $qid")
    }
    assert(queries.exists(_._2.length >= 16), "no wide query")
  }

  test("vector search and searchBatch equal the exhaustive reference") {
    val k = 5
    val noCut = allProbe.copy(numSecondPass = 1024)
    val phase1Only = allProbe.copy(secondPass = false)
    Seq("nsp=6" -> allProbe, "nsp=1024" -> noCut, "phase-1 only" -> phase1Only)
      .foreach { case (name, opts) =>
        val batched = batch(opts, k)
        queries.foreach { case (qid, q) =>
          val want = vectorRef(q, k, opts)
          assertRows(rows(idx.search(1, VectorQuery("colbert", q), k, opts)), want,
            s"search $name query $qid")
          assertRows(batched.getOrElse(qid, Nil), want, s"searchBatch $name query $qid")
        }
      }
  }

  test("And(Vector, Term) equals the reference over the intersection") {
    queries.foreach { case (qid, q) =>
      val p1 = phase1(q)
      val both = p1.collect { case (id, s) if termDocs(id) => id -> (s + 1.0) }
      val want = reference(q, both, both.keySet, 5, allProbe)
      val got = rows(idx.search(1,
        AndQuery(Seq(VectorQuery("colbert", q), TermQuery("cat", "even"))), 5, allProbe))
      assertRows(got, want, s"And query $qid")
    }
  }

  test("Or(Vector, Term) equals the reference over the union") {
    queries.foreach { case (qid, q) =>
      val p1 = phase1(q)
      val union = (p1.keySet ++ termDocs).map { id =>
        id -> (p1.getOrElse(id, 0.0) + (if (termDocs(id)) 1.0 else 0.0))
      }.toMap
      val want = reference(q, union, p1.keySet, 5, allProbe)
      val got = rows(idx.search(1,
        OrQuery(Seq(VectorQuery("colbert", q), TermQuery("cat", "even"))), 5, allProbe))
      assertRows(got, want, s"Or query $qid")
    }
  }
}
