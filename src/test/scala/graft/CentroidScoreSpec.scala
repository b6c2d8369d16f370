package graft

import graft.functions.{BatchCtxCentroidScore, CentroidScore, CtxCodes}
import graft.quantizers.CoarseQuantizer
import graft.scoring.Plaid
import org.scalatest.funsuite.AnyFunSuite

/** The phase-1 kernel computes each (token, code) dot lazily against the
  * centroid matrix — it must be bit-identical to the Plaid kernel over a
  * precomputed CoarseQuantizer.scoreBlock matrix, its SIMD and scalar
  * entries must agree bit-for-bit at every width, and the CSR snapshot it
  * scores must reproduce the context relation. */
class CentroidScoreSpec extends AnyFunSuite {

  val rnd = new scala.util.Random(11L)
  val nq = 4
  val nc = 8
  val dim = 16
  val centroids = Array.fill(nc)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
  val queryFlat = Array.fill(nq * dim)(rnd.nextFloat() * 2 - 1)
  // the precomputed-matrix twin the lazy dot must reproduce bit-exactly
  lazy val matrix = new CoarseQuantizer(centroids).scoreBlock(queryFlat, nq)
  lazy val cent: Array[Float] = {
    val flat = new Array[Float](nc * dim)
    centroids.zipWithIndex.foreach { case (c, i) =>
      System.arraycopy(c, 0, flat, i * dim, dim)
    }
    flat
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** ScoreKernel.scoreCodesTRange, called with NO width gate so the vector
    * body and its scalar tail run at every nq (the test JVM loads the
    * jdk.incubator.vector module, build.sbt). */
  private lazy val simdRange: java.lang.reflect.Method =
    Class.forName("graft.functions.ScoreKernel").getMethod("scoreCodesTRange",
      classOf[Array[Long]], classOf[Int], classOf[Int], classOf[Array[Float]],
      classOf[Int], classOf[Array[Float]], classOf[Int])
  private def simd(codes: Array[Long], from: Int, until: Int, qt: Array[Float],
      nq: Int, cent: Array[Float], dim: Int): Double =
    simdRange.invoke(null, codes, Int.box(from), Int.box(until), qt, Int.box(nq),
      cent, Int.box(dim)).asInstanceOf[Double]

  test("lazy dot matches Plaid over a scoreBlock matrix on random code lists") {
    val qt = CentroidScore.transposeQuery(queryFlat, dim)
    (0 until 200).foreach { i =>
      val codes = Array.fill(1 + rnd.nextInt(12))(rnd.nextInt(nc).toLong)
      val expected = Plaid.colbertCentroidScore(codes, matrix, nq, nc).toDouble
      assert(CentroidScore.computeDotLRange(codes, 0, codes.length, queryFlat,
        cent, nq, dim) == expected, s"scalar row $i")
      assert(CentroidScore.computeDotAutoLRange(codes, 0, codes.length, queryFlat,
        qt, cent, nq, dim) == expected, s"auto row $i")
    }
  }

  test("SIMD kernel (scoreCodesTRange) matches computeDotLRange bit-for-bit") {
    // nq sweeps below one vector width (pure scalar tail), exactly at, and
    // past it (vector body + tail); the NaN case pins the blend-not-max
    // choice: a NaN dot must KEEP the running max, as the scalar `>` does
    val r2 = new scala.util.Random(23L)
    for (nqv <- Seq(1, 3, 4, 8, 16, 17, 32, 33); dimv <- Seq(4, 128)) {
      val ncv = 16
      val cent = Array.fill(ncv * dimv)(r2.nextFloat() * 2 - 1)
      val q = Array.fill(nqv * dimv)(r2.nextFloat() * 2 - 1)
      val codes = Array.fill(5)(r2.nextInt(ncv).toLong)
      val scalar = CentroidScore.computeDotLRange(codes, 0, 5, q, cent, nqv, dimv)
      val vector = simd(codes, 0, 5, CentroidScore.transposeQuery(q, dimv), nqv,
        cent, dimv)
      assert(bits(scalar) == bits(vector), s"nq=$nqv dim=$dimv: $scalar vs $vector")
    }
    // NaN in one query token's dims: both paths must agree bit-for-bit
    val dimn = 8; val nqn = 9; val ncn = 4
    val cent = Array.fill(ncn * dimn)(1f)
    val q = Array.fill(nqn * dimn)(1f)
    q(3 * dimn + 2) = Float.NaN // token 3 produces NaN dots
    val codes = Array(0L, 1L, 2L)
    val scalar = CentroidScore.computeDotLRange(codes, 0, 3, q, cent, nqn, dimn)
    val vector = simd(codes, 0, 3, CentroidScore.transposeQuery(q, dimn), nqn,
      cent, dimn)
    assert(bits(scalar) == bits(vector), s"NaN case: $scalar vs $vector")
  }

  test("computeDotAutoLRange is bit-identical to computeDotLRange at any width") {
    val r3 = new scala.util.Random(31L)
    for (nqv <- Seq(1, 4, 16, 32, 33); dimv <- Seq(4, 128)) {
      val ncv = 16
      val cent = Array.fill(ncv * dimv)(r3.nextFloat() * 2 - 1)
      val q = Array.fill(nqv * dimv)(r3.nextFloat() * 2 - 1)
      val qt = CentroidScore.transposeQuery(q, dimv)
      val raw = Array.fill(7)(r3.nextInt(ncv).toLong)
      val auto = CentroidScore.computeDotAutoLRange(raw, 0, 7, q, qt, cent, nqv, dimv)
      val scalar = CentroidScore.computeDotLRange(raw, 0, 7, q, cent, nqv, dimv)
      assert(bits(auto) == bits(scalar), s"nq=$nqv dim=$dimv")
    }
  }

  test("slice variants (computeDotAutoLRange/computeDotLRange) score a " +
      "shared flat array in place, bit-identical to the copied-slice path") {
    val r4 = new scala.util.Random(47L)
    for (nqv <- Seq(1, 4, 16, 32, 33); dimv <- Seq(4, 128); len <- Seq(0, 1, 7)) {
      val ncv = 16
      val cent = Array.fill(ncv * dimv)(r4.nextFloat() * 2 - 1)
      val q = Array.fill(nqv * dimv)(r4.nextFloat() * 2 - 1)
      val qt = CentroidScore.transposeQuery(q, dimv)
      // the slice sits mid-array with junk codes on both sides — the range
      // entry must touch ONLY [from, until)
      val pre = Array.fill(3)(r4.nextInt(ncv).toLong)
      val mid = Array.fill(len)(r4.nextInt(ncv).toLong)
      val post = Array.fill(5)(r4.nextInt(ncv).toLong)
      val flat = pre ++ mid ++ post
      val from = pre.length; val until = pre.length + mid.length
      val viaCopy = CentroidScore.computeDotAutoLRange(
        mid.clone(), 0, len, q, qt, cent, nqv, dimv)
      val viaRange = CentroidScore.computeDotAutoLRange(
        flat, from, until, q, qt, cent, nqv, dimv)
      assert(bits(viaCopy) == bits(viaRange), s"auto-range nq=$nqv dim=$dimv len=$len")
      val scalarCopy = CentroidScore.computeDotLRange(
        mid.clone(), 0, len, q, cent, nqv, dimv)
      val scalarRange = CentroidScore.computeDotLRange(
        flat, from, until, q, cent, nqv, dimv)
      assert(bits(scalarCopy) == bits(scalarRange),
        s"scalar-range nq=$nqv dim=$dimv len=$len")
    }
  }

  test("CtxCodes.build dedups on first occurrence and indexOf finds every doc") {
    val rows = Array(
      (7L, Array(1L, 2L)), (3L, Array(9L)), (7L, Array(5L)), (11L, Array(0L, 0L, 4L)))
    val snap = graft.functions.CtxCodes.build(rows)
    assert(snap.docIds.toSeq == Seq(3L, 7L, 11L))
    def codesOf(id: Long): Seq[Long] = {
      val i = graft.functions.CtxCodes.indexOf(snap, id)
      snap.codes.slice(snap.offsets(i), snap.offsets(i + 1)).toSeq
    }
    assert(codesOf(3L) == Seq(9L))
    assert(codesOf(7L) == Seq(1L, 2L), "first occurrence must win on duplicate ids")
    assert(codesOf(11L) == Seq(0L, 0L, 4L))
    assert(graft.functions.CtxCodes.indexOf(snap, 99L) < 0)
  }

  test("CtxCodes.inverted reproduces explode(array_distinct(doc_codes)) " +
      "with ascending doc positions per centroid") {
    // doc 11 repeats centroid 0 (two tokens, one posting — array_distinct
    // semantics); centroid 3 has no docs (empty slice, not a crash);
    // duplicate doc 7 rows: first occurrence (codes 1,2) wins in the
    // forward snapshot, so the postings view lists doc 7 under 1 and 2
    // only — the view is derived from the codes actually scored
    val rows = Array(
      (7L, Array(1L, 2L)), (3L, Array(9L)), (7L, Array(5L)),
      (11L, Array(0L, 0L, 4L)), (2L, Array(1L)))
    val snap = graft.functions.CtxCodes.build(rows)
    val inv = snap.inverted
    assert(inv.numCentroids == 10) // max code 9 -> ids 0..9
    def docsOf(c: Int): Seq[Long] =
      (inv.offsets(c) until inv.offsets(c + 1)).map(j => snap.docIds(inv.docPos(j)))
    assert(docsOf(0) == Seq(11L))
    assert(docsOf(1) == Seq(2L, 7L), "positions must ascend (doc order)")
    assert(docsOf(2) == Seq(7L))
    assert(docsOf(3) == Seq.empty)
    assert(docsOf(4) == Seq(11L))
    assert(docsOf(5) == Seq.empty, "the dropped duplicate row posts nothing")
    assert(docsOf(9) == Seq(3L))
    assert(inv.docPos.length == 6, "one posting per (doc, distinct centroid)")
    // brute-force parity on a random corpus: every (centroid, doc) posting
    // appears exactly once and matches the per-doc distinct codes
    val rnd = new scala.util.Random(7)
    val big = Array.tabulate(200)(i =>
      (i.toLong, Array.fill(1 + rnd.nextInt(12))(rnd.nextInt(40).toLong)))
    val bigSnap = graft.functions.CtxCodes.build(big)
    val bigInv = bigSnap.inverted
    val expected = big.flatMap { case (d, cs) => cs.distinct.map(c => (c, d)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    (0 until bigInv.numCentroids).foreach { c =>
      val got = (bigInv.offsets(c) until bigInv.offsets(c + 1))
        .map(j => bigSnap.docIds(bigInv.docPos(j)))
      assert(got == expected.getOrElse(c.toLong, Seq.empty),
        s"centroid $c postings diverged")
    }
  }

  test("batch kernel routes each query_id to its own token vectors") {
    val q2 = Array.fill(2 * dim)(rnd.nextFloat() * 2 - 1) // nq=2 second query
    val queries = Map(7L -> queryFlat, 8L -> q2)
    val queriesT = BatchCtxCentroidScore.transposeAll(queries, dim)
    val m2 = new CoarseQuantizer(centroids).scoreBlock(q2, 2)
    val docs = Array.tabulate(50)(i =>
      (i.toLong, Array.fill(1 + rnd.nextInt(6))(rnd.nextInt(nc).toLong)))
    val snap = CtxCodes.build(docs)
    docs.foreach { case (id, codes) =>
      val pos = CtxCodes.indexOf(snap, id)
      Seq(7L -> Plaid.colbertCentroidScore(codes, matrix, nq, nc),
          8L -> Plaid.colbertCentroidScore(codes, m2, 2, nc)).foreach {
        case (qid, expected) =>
          val got = BatchCtxCentroidScore.compute(qid, snap, pos, queries,
            queriesT, cent, dim)
          assert(got == expected.toDouble, s"doc $id qid $qid")
      }
    }
  }
}
