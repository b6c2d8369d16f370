package graft.functions;

import jdk.incubator.vector.FloatVector;
import jdk.incubator.vector.VectorOperators;
import jdk.incubator.vector.VectorMask;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD per-candidate centroid-score micro-kernel of the phase-1 walk
 * (every search scores through {@code CentroidScore.computeDotAutoLRange}): updates the
 * per-query-token running MAX of {@code dot(q_token, centroid[code])} for
 * one doc code, vectorizing ACROSS QUERY TOKENS.
 *
 * <p>Bit-parity contract (the same one {@link graft.quantizers.AssignKernel}
 * holds): each token's accumulator lives in a SINGLE lane and accumulates
 * dim-ascending — the identical op sequence to the scalar loop in
 * {@code CentroidScore.computeDotLRange} — and {@code add(mul)} is used instead of
 * fma because the scalar path rounds the product before adding. The max
 * update uses an explicit GT compare + blend, NOT vector max: the scalar
 * path's {@code if (acc > perToken[k])} keeps the old value when acc is NaN,
 * and {@code FloatVector.max} (Math.max semantics) would propagate NaN.
 *
 * <p>Query layout is dim-major ("transposed": {@code qt[i*nq + k]} = dim i
 * of token k) so one register holds dim i of {@code S.length()} ADJACENT
 * tokens; the transpose is done once per task per query, never per row.
 * Tokens beyond the lane bound take the scalar tail — at nq below one
 * vector width the kernel degrades to exactly the scalar loop, so narrow
 * profiling shapes lose nothing while real ColBERT widths (nq 32+, 2-4
 * vectors per dim step) cut the dominant phase-1 per-pair cost.
 */
public final class ScoreKernel {

    private static final VectorSpecies<Float> S = FloatVector.SPECIES_PREFERRED;

    private ScoreKernel() {}

    /** Lane count of the preferred species — the dispatch threshold: below
     * one full vector of tokens the body is empty and the scalar twin
     * CentroidScore.computeDotLRange wins. A narrow-species path for nq &lt; 16
     * was measured and REJECTED (r18 receipt, DESIGN.md): 128/256-bit
     * kernels win 2.0x/3.5x in a single-species JVM, but the FIRST compile
     * of a second species de-intrinsifies the Vector API's shared virtual
     * sites for every other width — one nq=4 batch dropped the production
     * nq=32 path from 6.1x to 0.8x vs scalar for the JVM's lifetime. A
     * serving process cannot promise width purity, so the kernel stays
     * single-species ON PURPOSE; do not reintroduce a width-dispatched
     * species without re-measuring a mixed-width run (nq=4 then nq=32 in
     * one JVM). */
    public static int lanes() {
        return S.length();
    }

    /** perToken[k] = max(perToken[k], sum_i qt[i*nq+k] * cent[base+i]). */
    public static void maxDotInto(float[] qt, int nq, float[] cent, int base,
            int d, float[] perToken) {
        int bound = S.loopBound(nq);
        for (int c = 0; c < bound; c += S.length()) {
            FloatVector acc = FloatVector.zero(S);
            for (int i = 0; i < d; i++) {
                FloatVector qv = FloatVector.fromArray(S, qt, i * nq + c);
                acc = acc.add(qv.mul(cent[base + i]));
            }
            FloatVector cur = FloatVector.fromArray(S, perToken, c);
            VectorMask<Float> gt = acc.compare(VectorOperators.GT, cur);
            cur.blend(acc, gt).intoArray(perToken, c);
        }
        for (int k = bound; k < nq; k++) {
            float a = 0f;
            for (int i = 0; i < d; i++) a += qt[i * nq + k] * cent[base + i];
            if (a > perToken[k]) perToken[k] = a;
        }
    }

    /** One candidate: approximate MaxSim of dim-major query tokens against
     * the centroids of codes[from, to) — a slice of the CSR CtxCodes
     * snapshot's SHARED flat codes array, scored in place (no per-pair
     * copy) — as the sum over tokens of the running max {@link #maxDotInto}
     * maintains. Resolved reflectively (one call per scored pair) by
     * {@code CentroidScore.computeDotAutoLRange}; the scalar twin
     * {@code CentroidScore.computeDotLRange} has the identical accumulation
     * order. */
    public static double scoreCodesTRange(long[] codes, int from, int to,
            float[] qt, int nq, float[] cent, int d) {
        float[] perToken = new float[nq];
        java.util.Arrays.fill(perToken, -9999.0f);
        for (int j = from; j < to; j++)
            maxDotInto(qt, nq, cent, (int) codes[j] * d, d, perToken);
        float s = 0f;
        for (int k = 0; k < nq; k++) s += perToken[k];
        return (double) s;
    }
}
