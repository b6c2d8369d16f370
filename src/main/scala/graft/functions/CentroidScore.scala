package graft.functions

/** Compact deduped (doc_id -> centroid codes) snapshot of one
  * (tenant, field)'s context table, CSR-flat for broadcast: sorted doc ids,
  * offsets into one flat codes array. ~40% the bytes of the BHJ hashed
  * relation it replaces (no per-row object headers), built ONCE per index
  * state on the handle ([[graft.index.IndexIVF.contextCodesBroadcast]])
  * instead of per batch — the per-batch context scan + dedup shuffle +
  * 839 MiB relation build that dominated the fixed serving cost at the
  * 10M-doc shape (COVERAGE.md round 16 breakdown). */
final class CtxCodes(
    val docIds: Array[Long],
    val offsets: Array[Int],
    val codes: Array[Long]) extends Serializable {
  def numDocs: Int = docIds.length

  /** Inverted (centroid -> doc positions) view of this snapshot — the
    * in-memory postings every search's phase-1 walk traverses
    * ([[graft.query.BatchSearcher.walkQueries]]); no search reads the
    * postings table. The
    * entry for centroid c lists the
    * POSITIONS (indexes into [[docIds]]/[[offsets]], ascending) of every
    * doc whose deduped codes contain c — exactly the visible postings
    * relation, which the write path derives as
    * `explode(array_distinct(doc_codes))` from the same codes
    * (IndexIVF add(); reference DocEncoder.cpp:71-104 groups token codes
    * per centroid the same way).
    *
    * `@transient lazy`: the inversion never ships — the broadcast moves
    * only the forward arrays, and each executor JVM inverts once on first
    * use (three linear passes over [[codes]], a few hundred ms at the
    * 34M-code 10M-doc shape) under the lazy-val lock. */
  @transient lazy val inverted: CtxInverted = CtxCodes.invert(this)
}

/** CSR postings view over a [[CtxCodes]] snapshot: `docPos` slices
  * `[offsets(c), offsets(c+1))` hold the ascending doc POSITIONS for
  * centroid c. Positions, not ids: the walk goes straight to the doc's
  * codes slice for scoring without a binary search. */
final class CtxInverted(
    val numCentroids: Int,
    val offsets: Array[Int],
    val docPos: Array[Int])

object CtxCodes {
  /** Binary-search lookup of a doc's position; negative when the doc has
    * no context row. */
  def indexOf(ctx: CtxCodes, docId: Long): Int =
    java.util.Arrays.binarySearch(ctx.docIds, docId)

  /** Build from collected (doc_id, codes) rows: sort by doc_id, first
    * occurrence wins on duplicates — the same arbitrary-winner contract as
    * the dropDuplicates("doc_id") this replaces. */
  def build(rows: Array[(Long, Array[Long])]): CtxCodes = {
    val sorted = rows.sortBy(_._1)
    val n = sorted.length
    val ids = new Array[Long](n)
    val offs = new Array[Int](n + 1)
    var total = 0L
    var kept = 0
    var j = 0
    while (j < n) {
      if (kept == 0 || sorted(j)._1 != ids(kept - 1)) {
        ids(kept) = sorted(j)._1
        total += sorted(j)._2.length
        offs(kept + 1) = offs(kept) + sorted(j)._2.length
        kept += 1
      }
      j += 1
    }
    require(total <= Int.MaxValue, s"context codes overflow a flat array: $total")
    val flat = new Array[Long](offs(kept))
    var seen = 0
    j = 0
    while (j < n) {
      if (seen == 0 || sorted(j)._1 != ids(seen - 1)) {
        System.arraycopy(sorted(j)._2, 0, flat, offs(seen), sorted(j)._2.length)
        seen += 1
      }
      j += 1
    }
    new CtxCodes(java.util.Arrays.copyOf(ids, kept),
      java.util.Arrays.copyOf(offs, kept + 1), flat)
  }

  /** Invert a snapshot to its CSR postings view. Per-doc DISTINCT codes
    * only (a doc with the same centroid on several tokens posts once),
    * matching the write path's `array_distinct` — enforced with a
    * centroid-stamped scratch array, O(1) per code, so a wide doc costs
    * no more than its code count. Three linear passes: max code, counts,
    * fill. */
  def invert(ctx: CtxCodes): CtxInverted = {
    val codes = ctx.codes
    val nDocs = ctx.numDocs
    var maxCode = -1L
    var i = 0
    while (i < codes.length) {
      if (codes(i) > maxCode) maxCode = codes(i)
      require(codes(i) >= 0, s"negative centroid code ${codes(i)}")
      i += 1
    }
    require(maxCode + 1 <= Int.MaxValue, s"centroid id overflow: $maxCode")
    val k = (maxCode + 1).toInt
    val counts = new Array[Int](k + 1)
    // stamp(c) = 1 + index of the last doc that posted c: dedups within a
    // doc without clearing between docs
    val stamp = new Array[Int](k)
    var d = 0
    while (d < nDocs) {
      var j = ctx.offsets(d)
      val end = ctx.offsets(d + 1)
      while (j < end) {
        val c = codes(j).toInt
        if (stamp(c) != d + 1) { stamp(c) = d + 1; counts(c + 1) += 1 }
        j += 1
      }
      d += 1
    }
    var c = 0
    while (c < k) { counts(c + 1) += counts(c); c += 1 }
    val offs = java.util.Arrays.copyOf(counts, k + 1)
    val docPos = new Array[Int](offs(k))
    java.util.Arrays.fill(stamp, 0)
    val cursor = counts // reuse: cursor(c) = next write slot for centroid c
    d = 0
    while (d < nDocs) {
      var j = ctx.offsets(d)
      val end = ctx.offsets(d + 1)
      while (j < end) {
        val cc = codes(j).toInt
        if (stamp(cc) != d + 1) {
          stamp(cc) = d + 1
          docPos(cursor(cc)) = d
          cursor(cc) += 1
        }
        j += 1
      }
      d += 1
    }
    new CtxInverted(k, offs, docPos)
  }
}

/** The phase-1 walk's kernel entry ([[graft.query.BatchSearcher
  * .walkQueries]]): scores one query against one [[CtxCodes]] snapshot
  * position. */
object BatchCtxCentroidScore {
  /** `queries` is token-major, `queriesT` its dim-major twin (see
    * [[transposeAll]]) — [[CentroidScore.computeDotAutoLRange]]
    * width-dispatches between them per query. */
  def compute(qid: Long, ctx: CtxCodes, i: Int, queries: Map[Long, Array[Float]],
      queriesT: Map[Long, Array[Float]], cent: Array[Float], dim: Int): Double = {
    val q = queries.getOrElse(qid,
      throw new IllegalArgumentException(s"no query tokens for query_id $qid"))
    // score straight out of the CSR flat array: no per-pair codes copy
    CentroidScore.computeDotAutoLRange(ctx.codes, ctx.offsets(i),
      ctx.offsets(i + 1), q, queriesT(qid), cent, q.length / dim, dim)
  }

  /** Transpose every query to dim-major once per task. */
  def transposeAll(qs: Map[Long, Array[Float]], dim: Int): Map[Long, Array[Float]] =
    qs.map { case (k, v) => k -> CentroidScore.transposeQuery(v, dim) }
}

/** The phase-1 PLAID kernel: the approximate MaxSim over one document's
  * centroid codes (reference colbert_centroid_score,
  * lintdb/scoring/plaid.cpp:65-95), each (query token, doc code) dot
  * computed lazily as a sequential f32 inner product against the
  * row-major centroid matrix ([[graft.index.IndexIVF.centroidBroadcast]]).
  * Every search scores through it: the phase-1 walk
  * ([[graft.query.BatchSearcher.walkQueries]]) calls
  * [[computeDotAutoLRange]] on a slice of the snapshot's flat codes array.
  *
  * Bit-parity: CoarseQuantizer.scoreBlock accumulates each centroid's
  * score dim-ascending with one lane per centroid (no cross-lane
  * reduction), i.e. exactly the op sequence of a sequential f32 dot, so
  * the lazy dot reproduces Plaid.colbertCentroidScore over a precomputed
  * scoreBlock matrix bit-exactly (CentroidScoreSpec, ExhaustiveReferenceSpec).
  * The reference's unique-code set (plaid.cpp:75-87) is dropped: per-token
  * MAX is idempotent, so repeated codes cannot change the result. */
object CentroidScore {
  /** Row-major (nq x dim) query tokens -> dim-major (dim x nq): one SIMD
    * register then holds dim i of adjacent tokens ([[ScoreKernel]]). Done
    * once per task per query, never per candidate row. */
  def transposeQuery(q: Array[Float], dim: Int): Array[Float] = {
    val nq = q.length / dim
    val qt = new Array[Float](q.length)
    var k = 0
    while (k < nq) {
      var i = 0
      while (i < dim) { qt(i * nq + k) = q(k * dim + i); i += 1 }
      k += 1
    }
    qt
  }

  /** [[ScoreKernel.scoreCodesTRange]] (+ the species lane count, the
    * dispatch threshold) resolved once by reflection under the same
    * incubator-module probe as [[graft.quantizers.CoarseQuantizer]]'s
    * kernels — the scalar twin [[computeDotLRange]] takes over when the
    * module is absent. One boxed reflective call per scored (query, doc)
    * pair (the kernel loops the doc's codes internally) — noise next to
    * the nq x codes x dim FLOPs it vectorizes. */
  private lazy val simdScoreCodesRange: Option[(java.lang.reflect.Method, Int)] =
    try {
      Class.forName("jdk.incubator.vector.FloatVector")
      val k = Class.forName("graft.functions.ScoreKernel")
      Some((k.getMethod("scoreCodesTRange",
        classOf[Array[Long]], classOf[Int], classOf[Int], classOf[Array[Float]],
        classOf[Int], classOf[Array[Float]], classOf[Int]),
        k.getMethod("lanes").invoke(null).asInstanceOf[Int]))
    } catch { case _: Throwable => None }

  /** The scoring entry over a [from, until) SLICE of a shared flat codes
    * array — the CSR snapshot walk ([[BatchCtxCentroidScore]]) scores in
    * place instead of copying ~tokens-per-doc longs per scored (query,
    * doc) pair. WIDTH-DISPATCHED between the token-major scalar
    * [[computeDotLRange]] (narrow queries) and the token-lane SIMD kernel
    * over the transposed query `qt`; bit-identical either way
    * (CentroidScoreSpec). The gate is one full vector of tokens: below it
    * the SIMD body is empty and the reflective call + strided layout only
    * cost (measured 0.5-0.75x at nq=4-8 on a 16-lane host); at or past it
    * the kernel measured 4.7-5.9x (nq=16) and 5.3-5.8x (nq=32) on the
    * per-pair phase-1 cost (dim=128). */
  def computeDotAutoLRange(codes: Array[Long], from: Int, until: Int,
      q: Array[Float], qt: Array[Float], cent: Array[Float], nq: Int,
      dim: Int): Double = simdScoreCodesRange match {
    case Some((m, lanes)) if nq >= lanes =>
      m.invoke(null, codes, Int.box(from), Int.box(until), qt, Int.box(nq),
        cent, Int.box(dim)).asInstanceOf[Double]
    case _ => computeDotLRange(codes, from, until, q, cent, nq, dim)
  }

  /** The scalar kernel over codes(from until until): loop order, float
    * accumulation and the `>` max compare (a NaN dot keeps the running
    * max) are the op sequence the SIMD kernel reproduces per lane, so the
    * two are bit-identical. The float total widens to double last, so the
    * result equals Plaid.colbertCentroidScore(...).toDouble. */
  def computeDotLRange(codes: Array[Long], from: Int, until: Int,
      q: Array[Float], cent: Array[Float], nq: Int, dim: Int): Double = {
    val perToken = new Array[Float](nq)
    java.util.Arrays.fill(perToken, -9999.0f)
    var j = from
    while (j < until) {
      val base = codes(j).toInt * dim
      var k = 0
      while (k < nq) {
        val qo = k * dim
        var acc = 0.0f
        var i = 0
        while (i < dim) { acc += q(qo + i) * cent(base + i); i += 1 }
        if (acc > perToken(k)) perToken(k) = acc
        k += 1
      }
      j += 1
    }
    var score = 0.0f
    var k = 0
    while (k < nq) { score += perToken(k); k += 1 }
    score.toDouble
  }
}
