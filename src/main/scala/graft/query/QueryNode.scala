package graft.query

/** The reference's query algebra (lintdb/query/QueryNode.h:20-64): a tiny
  * boolean/vector tree — Term equality predicates, Vector (late-interaction
  * ANN) nodes, and n-ary And/Or with a score combiner. Range is a deliberate
  * superset (SURVEY §2.3 P2: the reference's keys are range-ordered but no
  * range node exists).
  */
sealed trait QueryNode

/** Equality predicate on one Indexed field (QueryNode.cpp:15-27). */
final case class TermQuery(field: String, value: Any) extends QueryNode

/** Range predicate on a numeric/datetime Indexed field (superset). */
final case class RangeQuery(field: String, lo: Double, hi: Double) extends QueryNode

/** Late-interaction vector query: one embedding per query token
  * (QueryNode.cpp:29-101). */
final case class VectorQuery(field: String, queryTokens: Array[Array[Float]])
  extends QueryNode

/** N-ary intersection; combiner over child scores (DocIterator.cpp:136-235).
  * Default SUM matches the reference (scoring_methods.h:41-47) — note the
  * documented quirk that filter children contribute 1.0 each (SURVEY §7.5.7). */
final case class AndQuery(children: Seq[QueryNode],
    combiner: Combiner.Value = Combiner.SUM) extends QueryNode

/** N-ary union with doc dedup (DocIterator.cpp:237-322). */
final case class OrQuery(children: Seq[QueryNode],
    combiner: Combiner.Value = Combiner.SUM) extends QueryNode

/** reference: lintdb/scoring/scoring_methods.{h,cpp} — SUM (:61-67),
  * PRODUCT aka "reduce" (:69-75), MAX (:77-85). */
object Combiner extends Enumeration {
  val SUM, MAX, PRODUCT = Value
}

/** reference defaults: lintdb/SearchOptions.h:23-38. Phase-1 always scores
  * with colbert_centroid_score (plaid_similarity, scoring_methods.cpp:8-40);
  * the reference's thresholded score_documents_by_codes variant
  * (plaid.cpp:38-63) is kept only as [[graft.scoring.Plaid]]'s parity
  * kernel, not as a search mode.
  *
  * Measured tuning guidance (10M docs / K=49152 / SQ8, 212 perturbed
  * self-retrieval qrels — COVERAGE.md r14 frontier + miss attribution):
  * serving latency is linear in candidate volume (~94 ns/candidate
  * end-to-end), which `kTopCentroids` x `nProbe` control; quality losses
  * at that shape came ONLY from the phase-2 rerank cut, never the probe
  * set, and raising `numSecondPass` 64 -> 256 recovered success@5 = 1.0
  * for zero measurable latency (phase-2 is byte-bound and tiny). Prefer
  * shrinking the probe knobs and keeping `numSecondPass` generous over
  * the reverse — (kTopCentroids=1, nProbe=8, numSecondPass=256) halved
  * the default config's latency at strictly better quality. */
final case class SearchOptions(
    kTopCentroids: Int = 2,
    numSecondPass: Int = 1024,
    nProbe: Int = 32,
    colbertField: String = "colbert",
    /** phase-2 rerank on decompressed residuals (ColBERTScorer). Disable to
      * return phase-1 scores only. */
    secondPass: Boolean = true)
