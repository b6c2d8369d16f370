package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native phase-1 PLAID scoring expression: the approximate MaxSim over a
  * document's centroid codes (reference colbert_centroid_score,
  * lintdb/scoring/plaid.cpp:65-95) as a codegen'd Catalyst expression.
  *
  * Scores are computed LAZILY per (query token, doc code) pair as a
  * sequential f32 inner product against the row-major centroid matrix,
  * which ships as a REAL Spark broadcast — shipped to each executor once
  * per index lifetime (it is cached on the IndexIVF handle and reused
  * across queries and batches), never serialized into the task binary.
  * The earlier design precomputed the full (numQueryTokens x numCentroids)
  * score matrix on the driver and attached it as a plan constant via
  * `addReferenceObj`; at production K that constant is K-proportional
  * (786 KB/query at K=49152, and the batch twin shipped 212 x that =
  * 159 MiB Java-deserialized per task — measured 4.1 s/query at the
  * 10M-doc shape). The lazy dot moves the cost to the candidate rows:
  * codes x nq x dim FLOPs per row, candidate-proportional and
  * corpus/K-independent.
  *
  * Bit-parity: CoarseQuantizer.scoreBlock accumulates each centroid's
  * score dim-ascending with one lane per centroid (no cross-lane
  * reduction), i.e. exactly the op sequence of a sequential f32 dot —
  * so the lazy dot reproduces the precomputed matrix entries bit-exactly
  * (pinned by CentroidScoreSpec against Plaid.colbertCentroidScore over
  * a scoreBlock matrix).
  */
case class CentroidScore(
    child: Expression,
    queryFlat: Array[Float],
    bcCentroids: Broadcast[Array[Float]],
    numQueryTokens: Int,
    dim: Int) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_centroid_score expects array<bigint>, got ${other.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  // Broadcast.getValue() is a SYNCHRONIZED method (SoftReference
  // memoization) — it must be resolved once per task/expression instance,
  // never per row: 32 threads contending on the one broadcast monitor
  // serialized the whole scoring stage (measured 387 s for a 2.8M-pair
  // phase-1 at the 10M-doc shape before this was hoisted).
  @transient private lazy val centLocal: Array[Float] = bcCentroids.value
  // dim-major query for the token-lane SIMD kernel — once per task
  @transient private lazy val qtLocal: Array[Float] =
    CentroidScore.transposeQuery(queryFlat, dim)

  override def nullSafeEval(codes: Any): Any =
    CentroidScore.computeDotAuto(codes.asInstanceOf[ArrayData], queryFlat,
      qtLocal, centLocal, numQueryTokens, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qRef = ctx.addReferenceObj("centroidScoreQuery", queryFlat, "float[]")
    val bcRef = ctx.addReferenceObj("centroidScoreBc", bcCentroids,
      "org.apache.spark.broadcast.Broadcast")
    // hoist the synchronized Broadcast.value() call into the generated
    // class's init (once per task) — see centLocal; the query transpose
    // rides the same once-per-task init
    val centVar = ctx.addMutableState("float[]", "centroidMatrix",
      v => s"$v = (float[]) $bcRef.value();")
    val qtVar = ctx.addMutableState("float[]", "centroidQueryT",
      v => s"$v = graft.functions.CentroidScore.transposeQuery($qRef, $dim);")
    nullSafeCodeGen(ctx, ev, codes =>
      s"${ev.value} = graft.functions.CentroidScore.computeDotAuto(" +
        s"$codes, $qRef, $qtVar, $centVar, $numQueryTokens, $dim);")
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidScore =
    copy(child = newChild)

  override def prettyName: String = "graft_centroid_score"
}

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
    * in-memory postings the batch phase-1 walk traverses instead of
    * scanning the postings table ([[graft.query.BatchSearcher]]). The
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

/** The batch phase-1 kernel entry ([[graft.query.BatchSearcher]]'s walk):
  * scores one query against one [[CtxCodes]] snapshot position. */
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

object CentroidScore {
  import org.apache.spark.sql.graftbridge.Bridge

  def apply(codes: Column, queryFlat: Array[Float],
      bcCentroids: Broadcast[Array[Float]], nq: Int, dim: Int): Column =
    Bridge.column(CentroidScore(Bridge.expression(codes), queryFlat,
      bcCentroids, nq, dim))

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

  /** [[ScoreKernel.scoreCodesT]] (+ the species lane count, the dispatch
    * threshold) resolved once by reflection under the same incubator-module
    * probe as [[graft.quantizers.CoarseQuantizer]]'s kernels — the scalar
    * twin below takes over when the module is absent. One boxed reflective
    * call per candidate ROW (the kernel loops the row's codes internally)
    * — noise next to the nq x codes x dim FLOPs it vectorizes. */
  private lazy val simdScoreCodes: Option[(java.lang.reflect.Method, Int)] =
    try {
      Class.forName("jdk.incubator.vector.FloatVector")
      val k = Class.forName("graft.functions.ScoreKernel")
      Some((k.getMethod("scoreCodesT",
        classOf[Array[Long]], classOf[Array[Float]], classOf[Int],
        classOf[Array[Float]], classOf[Int]),
        k.getMethod("lanes").invoke(null).asInstanceOf[Int]))
    } catch { case _: Throwable => None }

  /** The [from, until) slice twin of [[simdScoreCodes]] — the CSR snapshot
    * path scores directly out of the shared flat codes array, no per-pair
    * copy. Resolved under the same incubator-module probe. */
  private lazy val simdScoreCodesRange: Option[(java.lang.reflect.Method, Int)] =
    try {
      Class.forName("jdk.incubator.vector.FloatVector")
      val k = Class.forName("graft.functions.ScoreKernel")
      Some((k.getMethod("scoreCodesTRange",
        classOf[Array[Long]], classOf[Int], classOf[Int], classOf[Array[Float]],
        classOf[Int], classOf[Array[Float]], classOf[Int]),
        k.getMethod("lanes").invoke(null).asInstanceOf[Int]))
    } catch { case _: Throwable => None }

  /** The serving hot path of the scoring expression: WIDTH-DISPATCHED
    * between [[computeDot]] (token-major scalar — narrow queries) and the
    * token-lane SIMD kernel over the transposed query ([[computeDotT]]).
    * Bit-identical either way (CentroidScoreSpec). The gate is one full
    * vector of tokens: below it the SIMD body is empty and the reflective
    * call + strided layout only cost (measured 0.5-0.75x at nq=4-8 on a
    * 16-lane host); at or past it the kernel measured 4.7-5.9x (nq=16)
    * and 5.3-5.8x (nq=32) on the dominant phase-1 per-pair cost (ProfMain
    * score_kernel, dim=128). */
  def computeDotAuto(codes: ArrayData, q: Array[Float], qt: Array[Float],
      cent: Array[Float], nq: Int, dim: Int): Double = simdScoreCodes match {
    case Some((m, lanes)) if nq >= lanes =>
      m.invoke(null, codes.toLongArray(), qt, Int.box(nq), cent, Int.box(dim))
        .asInstanceOf[Double]
    case _ => computeDot(codes, q, cent, nq, dim)
  }

  /** [[computeDotAuto]] over a plain long[] codes slice (the [[CtxCodes]]
    * lookup path, which has no ArrayData to hand) — same width dispatch,
    * same kernel, bit-identical results (CentroidScoreSpec pins the L
    * twins against the ArrayData originals). */
  def computeDotAutoL(codes: Array[Long], q: Array[Float], qt: Array[Float],
      cent: Array[Float], nq: Int, dim: Int): Double = simdScoreCodes match {
    case Some((m, lanes)) if nq >= lanes =>
      m.invoke(null, codes, qt, Int.box(nq), cent, Int.box(dim))
        .asInstanceOf[Double]
    case _ => computeDotL(codes, q, cent, nq, dim)
  }

  /** [[computeDotAutoL]] over a [from, until) SLICE of a shared flat codes
    * array — the CSR snapshot walk ([[BatchCtxCentroidScore]]) scores
    * in place instead of Arrays.copyOfRange-ing ~tokens-per-doc longs per
    * scored (query, doc) pair (r16 verdict What's-wrong 3: at width 120
    * that copy is the first thing a profiler shows). Same width dispatch,
    * same kernel op order — bit-identical to the copy-then-score it
    * replaces (CentroidScoreSpec pins the slice variant against the full
    * arrays). */
  def computeDotAutoLRange(codes: Array[Long], from: Int, until: Int,
      q: Array[Float], qt: Array[Float], cent: Array[Float], nq: Int,
      dim: Int): Double = simdScoreCodesRange match {
    case Some((m, lanes)) if nq >= lanes =>
      m.invoke(null, codes, Int.box(from), Int.box(until), qt, Int.box(nq),
        cent, Int.box(dim)).asInstanceOf[Double]
    case _ => computeDotLRange(codes, from, until, q, cent, nq, dim)
  }

  /** [[computeDotL]]'s slice twin — identical op sequence over
    * codes(from until until), so bit-identical results. */
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

  /** [[computeDot]]'s long[] twin — identical op sequence (loop order,
    * float accumulation, `>` max compare), so bit-identical results. */
  def computeDotL(codes: Array[Long], q: Array[Float], cent: Array[Float],
      nq: Int, dim: Int): Double = {
    val perToken = new Array[Float](nq)
    java.util.Arrays.fill(perToken, -9999.0f)
    var j = 0
    while (j < codes.length) {
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

  /** [[computeDot]] over a TRANSPOSED (dim-major) query: the SIMD kernel
    * whenever the incubator module is present (NO width gate here — the
    * parity spec drives the vector body and its tails directly at every
    * width), the strided scalar twin otherwise. Vector lanes run ACROSS
    * query tokens with each token's accumulation dim-ascending in one
    * lane, so results are bit-identical to [[computeDot]] at any vector
    * width, including the NaN-keeps-old-max edge the scalar `>` compare
    * implies. Production callers use [[computeDotAuto]]. */
  def computeDotT(codes: ArrayData, qt: Array[Float], cent: Array[Float],
      nq: Int, dim: Int): Double = simdScoreCodes match {
    case Some((m, _)) =>
      m.invoke(null, codes.toLongArray(), qt, Int.box(nq), cent, Int.box(dim))
        .asInstanceOf[Double]
    case _ =>
      val perToken = new Array[Float](nq)
      java.util.Arrays.fill(perToken, -9999.0f)
      val n = codes.numElements()
      var j = 0
      while (j < n) {
        val base = codes.getLong(j).toInt * dim
        var k = 0
        while (k < nq) {
          var acc = 0.0f
          var i = 0
          while (i < dim) { acc += qt(i * nq + k) * cent(base + i); i += 1 }
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

  /** The kernel over raw ArrayData — results bit-identical to
    * Plaid.colbertCentroidScore over a CoarseQuantizer.scoreBlock matrix;
    * static + JIT-friendly so generated code stays a one-liner. The
    * reference's unique-code set (plaid.cpp:75-87) is dropped here:
    * per-token MAX is idempotent, so deduping repeated codes cannot change
    * the result — it only trades a few redundant dots for a per-row
    * HashSet allocation and one boxed Long per code, which is the wrong
    * trade on the per-candidate hot loop (typical docs repeat few codes). */
  def computeDot(codes: ArrayData, q: Array[Float], cent: Array[Float],
      nq: Int, dim: Int): Double = {
    val perToken = new Array[Float](nq)
    java.util.Arrays.fill(perToken, -9999.0f)
    val n = codes.numElements()
    var j = 0
    while (j < n) {
      val base = codes.getLong(j).toInt * dim
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
    // float accumulation, then widen — bit-identical to
    // Plaid.colbertCentroidScore(...).toDouble (the UDF it replaces)
    var score = 0.0f
    var k = 0
    while (k < nq) { score += perToken(k); k += 1 }
    score.toDouble
  }
}
