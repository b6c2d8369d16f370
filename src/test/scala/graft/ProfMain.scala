package graft

import org.apache.spark.graftbridge.ListenerBusAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch profiling harness (test scope, not shipped): times phases of the
  * slow bench queries one by one. Run:
  * sbt -batch "Test/runMain graft.ProfMain <what>" */
object ProfMain {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[prof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  // ---- synthetic campaign-corpus geometries (r14 verdict item 1) --------
  // "uniform" = the r11-r14 shape: every token dim iid U(-1,1) — the
  // near-worst case for pruning bounds (vacuous |v|*r_g) and the near-best
  // case for balanced IVF lists. "clustered" = the geometry-transfer
  // corpus: each DOC is drawn from one of C=1024 planted topic clusters
  // with power-law sizes — cluster = floor(C * u^3) gives pmf ~ c^(-2/3),
  // so cluster 0 holds (1/C)^(1/3) ≈ 9.9% of all docs (~100x the mean) —
  // cluster means iid U(-1,1)^dim (inter-mean distance ~ sqrt(2*dim/3) ≈
  // 9.2 at dim=128), and intra-cluster jitter U(-1,1) confined to the
  // FIRST 16 dims (low intrinsic dimension, like real embeddings; radius
  // ~ sqrt(16/3) ≈ 2.3 ≪ inter-mean distance). All of a doc's tokens share
  // its cluster. `noise` adds the perturbed-qrel full-dim jitter on top
  // (0.0 for corpus/build). Deterministic, pure SQL, identical on every
  // call site that probes the same ids.
  val GeomClusters = 1024
  val GeomIntrinsicDims = 16

  /** Index-path suffix for a non-default tokens-per-doc width (r15 verdict
    * item 3: the clustered-campaign mechanisms were measured at 4 tok/doc;
    * real ColBERT docs carry ~120 — width arms get their own builds). */
  def widthSuffix(tpd: Int): String = if (tpd == 4) "" else s"_w$tpd"

  def geomSuffix(geom: String): String = geom match {
    case "uniform" => ""
    case "clustered" => "_cl"
    case other => sys.error(s"unknown geometry $other")
  }

  def geomTokensExpr(geom: String, tpd: Int, dim: Int,
      noise: Double): org.apache.spark.sql.Column = {
    val base = geom match {
      case "uniform" => "pmod(xxhash64(id, t, d), 2000) / 1000.0 - 1.0"
      case "clustered" =>
        s"""(pmod(xxhash64(cast(floor($GeomClusters *
           |    pow(pmod(xxhash64(id), 1048576) / 1048576.0, 3.0)) as bigint),
           |    777, d), 2000) / 1000.0 - 1.0)
           |  + (case when d < $GeomIntrinsicDims
           |     then pmod(xxhash64(id, t, d, 555), 2000) / 1000.0 - 1.0
           |     else 0.0 end)""".stripMargin
      case other => sys.error(s"unknown geometry $other")
    }
    val jitter =
      if (noise == 0.0) ""
      else s"\n  + (pmod(xxhash64(id, t, d, 999), 2000) / 1000.0 - 1.0) * $noise"
    expr(
      s"""transform(sequence(0, ${tpd - 1}), t ->
         |  transform(sequence(0, ${dim - 1}), d ->
         |    cast($base$jitter as float)))""".stripMargin)
  }

  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("engine")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // GRAFT_PROF_UI=1 exposes the UI/REST API on :4040 for live stage
      // attribution of a long profiling phase
      .config("spark.ui.enabled", sys.env.getOrElse("GRAFT_PROF_UI", "0") == "1")
      // profiling harness runs with a large driver heap (SPARK_DRIVER_MEM);
      // production-shape measurements legitimately collect >1 GiB (e.g.
      // the A/B hatches that re-run deliberately-fat plan shapes)
      .config("spark.driver.maxResultSize", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    // A/B hatch for the size-gated placement: force the bulk (clustering
    // shuffle) path with GRAFT_SMALL_ADD_MAX_BYTES=1
    sys.env.get("GRAFT_SMALL_ADD_MAX_BYTES").foreach(v =>
      spark.conf.set("graft.index.smallAddMaxBytes", v))
    // saturation-aware rerank escalation (r15 item 2) for the frontier arms
    sys.env.get("GRAFT_NSP_ESCALATE").foreach(v =>
      spark.conf.set("graft.batch.nspEscalate", v))
    sys.env.get("GRAFT_NSP_TIE_EPS").foreach(v =>
      spark.conf.set("graft.batch.nspTieEps", v))
    // force the context-broadcast gate (r15 item 5: measure the shuffle
    // fallback crossing on clustered geometry) with GRAFT_CTX_BCAST_MAX=1
    sys.env.get("GRAFT_CTX_BCAST_MAX").foreach(v =>
      spark.conf.set("graft.batch.broadcastContextMaxBytes", v))

    what match {
      case "engine" => profEngine(spark, dir)
      case "engine_noaqe" =>
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        profEngine(spark, dir)
      case "minhash" => profMinhash(spark, dir)
      case "minhash_10x" =>
        // phase + candidate-volume breakdown on the ScaleSpec 10x corpus
        import graft.queries.TextPipeline
        val d10 = java.nio.file.Files.createTempDirectory("prof10x").toString
        ScaleData.writeCorpus(spark, d10, 50000, 300, chunk = 5000)
        val d = graft.queries.Tables.t(spark, d10, "documents")
        val arrs = time("arrs build+persist") {
          val a = TextPipeline.shingleArrays(d)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          a.count(); a
        }
        val s32 = time("sigs32 project+persist") {
          val s2 = TextPipeline.minhashSigs(arrs, 32)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          s2.count(); s2
        }
        Seq((8, 2), (8, 4)).foreach { case (b, r) =>
          val n = time(s"cands ${b}x$r")(TextPipeline.minhashCandidates(spark, s32, b, r).count())
          println(s"[prof] ${b}x$r candidate pairs: $n")
        }
        time("full q_dedup_minhash")(
          SparkEntry.queries("q_dedup_minhash")(spark, d10).count())
        time("full again (warm)")(
          SparkEntry.queries("q_dedup_minhash")(spark, d10).count())
      case "minhash_cands" =>
        // candidate-volume per geometry at this sf (structural metric)
        import graft.queries.TextPipeline
        val d = graft.queries.Tables.t(spark, dir, "documents")
        val arrs = TextPipeline.shingleArrays(d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        arrs.count()
        val s32 = TextPipeline.minhashSigs(arrs, 32)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        s32.count()
        Seq((8, 2), (4, 4), (8, 4)).foreach { case (b, r) =>
          val n = time(s"cands ${b}x$r")(TextPipeline.minhashCandidates(spark, s32, b, r).count())
          println(s"[prof] ${b}x$r candidate pairs: $n")
        }
      case "minhash_phases" =>
        // cold-path phase breakdown through the REAL pipeline functions
        import graft.queries.TextPipeline
        val d = graft.queries.Tables.t(spark, dir, "documents")
        val arrs = time("arrs build+persist") {
          val a = TextPipeline.shingleArrays(d)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          a.count(); a
        }
        val sigs = time("sigs32 project+persist") {
          val s2 = TextPipeline.minhashSigs(arrs, 32)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          s2.count(); s2
        }
        val cands = time("candidates 8x4")(
          TextPipeline.minhashCandidates(spark, sigs, 8, 4).count())
        println(s"[prof] candidate pairs: $cands")
        time("full query (caches warm)")(
          SparkEntry.queries("q_dedup_minhash")(spark, dir).count())
      case "minhash_prune" =>
        // r18 verify-prune receipt: candidate volume before/after the
        // deterministic size bound at t=0.5, and the verify phase (shingle
        // re-join + pair aggregation + jaccard filter) timed on each
        // candidate set. args: [corpus] — default the SPARK_GRAFT_SF_DIR
        // documents table (whose planted dups are size-MATCHED, so the
        // expected prune rate there is ~0: the no-harm arm); "skew" builds
        // a containment-planted corpus (short docs fully inside 2.1x-
        // larger ones, J = 100/212 ≈ 0.47 < 0.5, so banding collides ~33%
        // of pairs that exact verify then discards — the shape the bound
        // exists for, cf. q_containment's scaladoc) plus true dups
        // (J = 100/130 ≈ 0.77) that must survive both prune and filter.
        import graft.queries.TextPipeline
        val d = if (args.lift(1).contains("skew")) {
          val contained = spark.range(2000).selectExpr(
            "id * 4 as base", "concat('c', id) as p")
          val trueDup = spark.range(2000, 2500).selectExpr(
            "id * 4 as base", "concat('t', id) as p")
          def doc(src: org.apache.spark.sql.DataFrame, off: Int, words: Int) =
            src.select((col("base") + off).as("doc_id"), expr(
              s"concat_ws(' ', transform(sequence(0, ${words - 1}), " +
                "i -> concat(p, '_w', i)))").as("text"))
          doc(contained, 0, 102).union(doc(contained, 1, 214))
            .union(doc(trueDup, 0, 102)).union(doc(trueDup, 1, 132))
        } else graft.queries.Tables.t(spark, dir, "documents")
        val arrs = TextPipeline.shingleArrays(d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        arrs.count()
        val sigs = TextPipeline.minhashSigs(arrs, 32)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        sigs.count()
        val sh = arrs.select(col("doc_id"), explode(col("shs")).as("sh"))
        val cnts = sigs.select(col("doc_id"), col("cnt"))
        val candAll = TextPipeline.minhashCandidates(spark, sigs, 8, 4)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        val nAll = candAll.count()
        val candSized = candAll
          .join(cnts.select(col("doc_id").as("a_id"), col("cnt").as("pa")), Seq("a_id"))
          .join(cnts.select(col("doc_id").as("b_id"), col("cnt").as("pb")), Seq("b_id"))
          .filter(TextPipeline.sizeCompatible(0.5)(col("pa"), col("pb")))
          .select("a_id", "b_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        val nSized = candSized.count()
        println(f"[prof] candidates: $nAll%d -> size-compatible: $nSized%d " +
          f"(${100.0 * (nAll - nSized) / math.max(1, nAll)}%.1f%% pruned)")
        def verify(cand: org.apache.spark.sql.DataFrame): Long =
          cand.join(sh.select(col("doc_id").as("a_id"), col("sh")), Seq("a_id"))
            .join(sh.select(col("doc_id").as("b_id"), col("sh")), Seq("b_id", "sh"))
            .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("common"))
            .join(cnts.select(col("doc_id").as("a_id"), col("cnt").as("ca")), Seq("a_id"))
            .join(cnts.select(col("doc_id").as("b_id"), col("cnt").as("cb")), Seq("b_id"))
            .filter(col("common") * lit(1.0) /
              (col("ca") + col("cb") - col("common")) >= 0.5)
            .count()
        (1 to 2).foreach { i =>
          val a = time(s"verify on ALL candidates #$i")(verify(candAll))
          val b = time(s"verify on size-compatible #$i")(verify(candSized))
          assert(a == b, s"prune changed the verified >= 0.5 pair count: $a vs $b")
        }
      case "minhash_ab" =>
        // geometry A/B on the same machine via the session knobs: old 8x2
        // vs default 8x4, interleaved twice to average out drift
        (1 to 2).foreach { i =>
          Seq(2 -> "8x2", 4 -> "8x4").foreach { case (rows, label) =>
            spark.conf.set("graft.text.minhashRows", rows.toString)
            time(s"q_dedup_minhash $label #$i")(
              SparkEntry.queries("q_dedup_minhash")(spark, dir).count())
          }
        }
        spark.conf.unset("graft.text.minhashRows")
      case "plan" =>
        // driver-side probe selection at production planning scale:
        // nc=65536 centroids, nq=32 query tokens (VERDICT r7 #4). Compares
        // the old sort-all-boxed-tuples formulation against the primitive
        // bounded heap on the SAME matrix; both produce identical probes
        // (pinned by ProbeSelectionSpec).
        val nc = 65536; val nq = 32; val kTop = 32; val nProbe = 128
        val rnd = new scala.util.Random(7)
        val m = Array.fill(nq * nc)(rnd.nextFloat() * 2f - 1f)
        def naive(): Seq[Long] = {
          val high = new Array[Float](nc)
          (0 until nq).foreach { i =>
            (0 until nc).map(c => (c, m(i * nc + c))).sortBy { case (c, s) => (-s, c) }
              .take(kTop).foreach { case (c, s) => if (s > high(c)) high(c) = s }
          }
          high.zipWithIndex.filter(_._1 > 0)
            .sortBy { case (s, c) => (-s, c) }.take(nProbe).map(_._2.toLong).toSeq
        }
        var last: Seq[Long] = Seq.empty
        (1 to 3).foreach { i =>
          time(s"sort-based selection #$i") { last = naive() }
          time(s"heap-based selection #$i") {
            last = graft.query.Searcher.topCentroids(m, nq, nc, kTop, nProbe).toSeq
          }
        }
        println(s"[prof] probes: ${last.length}")
        // the other half of computePlan: the (nq x nc) matrix fill itself,
        // old per-centroid sequential dots vs the SIMD scoreBlock
        val dimp = 128
        val cents = Array.fill(nc)(Array.fill(dimp)(rnd.nextFloat() * 2f - 1f))
        val cqp = new graft.quantizers.CoarseQuantizer(cents)
        val qflat = Array.fill(nq * dimp)(rnd.nextFloat() * 2f - 1f)
        def oldFill(): Array[Float] = {
          val out = new Array[Float](nq * nc)
          var t = 0
          while (t < nq) {
            var c = 0
            while (c < nc) {
              val ce = cents(c); var s = 0f; var i = 0
              while (i < dimp) { s += qflat(t * dimp + i) * ce(i); i += 1 }
              out(t * nc + c) = s; c += 1
            }
            t += 1
          }
          out
        }
        (1 to 2).foreach { _ => cqp.scoreBlock(qflat, nq); oldFill() } // warmup
        (1 to 3).foreach { i =>
          var a: Array[Float] = null; var b: Array[Float] = null
          time(s"matrix fill dots #$i") { a = oldFill() }
          time(s"matrix fill simd #$i") { b = cqp.scoreBlock(qflat, nq) }
          assert(a.toSeq == b.toSeq, "matrix fill diverged")
        }
      case "train_scale" =>
        // coarse-training throughput at production K (VERDICT r8 #2):
        // K=4096, dim=64 — the old single-threaded double-L2 Lloyd's vs the
        // round-9 trainer (SIMD score kernel, parallel point chunks, exact
        // near-tie recheck). Centroids must be IDENTICAL: the fast path is
        // designed to reproduce the reference's decisions bit-for-bit
        // (KMeansParitySpec), so this is a pure speed A/B. n is 16/centroid
        // (a 1/16 slice of the Faiss 256/centroid sample bound) to keep the
        // scalar side measurable; both sides scale linearly in n.
        import graft.quantizers.CoarseQuantizer
        val k = 4096; val dimT = 64; val n = 65536; val iters = 2
        val rnd = new java.util.Random(7)
        val pts = Array.fill(n)(Array.fill(dimT)(rnd.nextGaussian().toFloat))
        var fast: Array[Array[Float]] = null
        time("lloyd fast (cold)") { fast = CoarseQuantizer.lloyd(pts, k, iters, 42L) }
        val tF0 = System.nanoTime()
        time("lloyd fast (warm)") { fast = CoarseQuantizer.lloyd(pts, k, iters, 42L) }
        val sFast = (System.nanoTime() - tF0) / 1e9
        val tS0 = System.nanoTime()
        var ref: Array[Array[Float]] = null
        time("lloyd scalar reference") {
          ref = CoarseQuantizer.lloydScalarReference(pts, k, iters, 42L)
        }
        val sRef = (System.nanoTime() - tS0) / 1e9
        fast.indices.foreach { i =>
          assert(java.util.Arrays.equals(fast(i), ref(i)), s"centroid $i differs")
        }
        println(f"[prof] train_scale K=$k dim=$dimT n=$n iters=$iters: " +
          f"${sRef}%.2f s -> ${sFast}%.2f s = ${sRef / sFast}%.1f x, centroids identical")
      case "train_distributed" =>
        // the production-K training path (r8 verdict's one named 100x
        // reservation): same K/dim as train_scale, tokens generated
        // distributively, measuring the driver-local trainer vs the
        // distributed-sample trainer. At THIS scale local wins on wall
        // clock (no shuffle); the distributed path's point is driver heap:
        // O(K*dim) resident vs the K*256-vector sample (~8.6 GB at
        // K=65536, dim=128), which is what the conf-budget dispatch in
        // CoarseQuantizer.train buys at real K.
        import graft.quantizers.CoarseQuantizer
        val k = 4096; val dimT = 64; val n = 65536L; val iters = 2
        val tokens = spark.range(n).select(expr(
          s"""transform(sequence(0, ${dimT - 1}), d ->
             |  cast(pmod(xxhash64(id, d), 2000) / 1000.0 - 1.0 as float))"""
            .stripMargin).as("vec"))
        tokens.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        tokens.count()
        var local: CoarseQuantizer = null
        var dist: CoarseQuantizer = null
        time("train local (cold)") { local = CoarseQuantizer.train(tokens, k, iters) }
        val tL0 = System.nanoTime()
        time("train local (warm)") { local = CoarseQuantizer.train(tokens, k, iters) }
        val sL = (System.nanoTime() - tL0) / 1e9
        time("train distributed (cold)") {
          dist = CoarseQuantizer.trainDistributed(tokens, k, iters)
        }
        val tD0 = System.nanoTime()
        time("train distributed (warm)") {
          dist = CoarseQuantizer.trainDistributed(tokens, k, iters)
        }
        val sD = (System.nanoTime() - tD0) / 1e9
        // clustering quality on a fixed probe slice (decisions share the
        // ExactL2Assigner kernel; only init/summation order differ)
        val probe = tokens.limit(4096).collect()
          .map(_.getSeq[Float](0).toArray)
        def err(q: CoarseQuantizer): Double = probe.map { v =>
          val c = q.centroids(q.assign(v))
          var s = 0.0; var i = 0
          while (i < v.length) { val d = v(i) - c(i); s += d * d; i += 1 }
          s
        }.sum / probe.length
        val sampleGiB = k.toLong * 256 * dimT * 4 / 1024.0 / 1024 / 1024
        println(f"[prof] train_distributed K=$k dim=$dimT n=$n iters=$iters: " +
          f"local ${sL}%.2f s (driver sample ${sampleGiB}%.2f GiB) vs " +
          f"distributed ${sD}%.2f s (driver O(K*dim) = " +
          f"${k.toLong * dimT * 4 / 1024.0 / 1024}%.0f MiB); " +
          f"quantization error local ${err(local)}%.4f vs dist ${err(dist)}%.4f")
      case "index_scale" =>
        // ONE production-shaped index (VERDICT r8 #5): K=4096, dim=128,
        // 100k docs x 4 tokens = 400k vectors, built once — build time,
        // bucketed-layout file counts, probe pruning, and the 212-query
        // batch harness ms/query at a real shape instead of the bench's
        // per-invocation toy (16 centroids, 10 docs). Tokens are a
        // deterministic expression of (doc_id, token, dim), generated
        // distributively — no driver-side data generation.
        import graft.core._
        import graft.query._
        import spark.implicits._
        // optional 2nd arg scales the corpus (default 100k docs; 1M is the
        // next-10x shape from VERDICT r9 #7); optional 3rd arg sets K (a
        // fixed K at a growing corpus makes candidate sets — and per-query
        // cost — grow linearly; production scales K with corpus)
        val dimI = 128
        val nDocs = args.lift(1).map(_.toInt).getOrElse(100000); val tpd = 4
        val k = args.lift(2).map(_.toInt).getOrElse(4096)
        val schema = GSchema(Seq(
          GField.colbert("colbert", dimensions = dimI,
            numCentroids = k, quantization = QuantizerKind.NONE,
            numIterations = 2, nbits = 2),
          GField(name = "n_chars", dataType = GDataType.INTEGER.toString,
            roles = Seq(FieldRole.Indexed.toString, FieldRole.Stored.toString))))
        val path = java.nio.file.Files.createTempDirectory("graft_scale_idx").toString
        val idx = graft.index.IndexIVF.create(spark, path, schema)
        val tokensExpr = expr(
          s"""transform(sequence(0, ${tpd - 1}), t ->
             |  transform(sequence(0, ${dimI - 1}), d ->
             |    cast(pmod(xxhash64(id, t, d), 2000) / 1000.0 - 1.0 as float)))"""
            .stripMargin)
        val docs = spark.range(nDocs.toLong).select(col("id"),
          tokensExpr.as("colbert"), pmod(col("id") * 31L, lit(5000)).as("n_chars"))
        time(s"train K=$k dim=$dimI n=${nDocs * tpd}") { idx.train(docs) }
        time(s"add $nDocs docs (${nDocs * tpd} vectors)") { idx.add(1, docs) }
        // bucketed layout at shape: directories + files per table
        def layout(tbl: String): (Long, Long) = {
          val root = java.nio.file.Paths.get(path, tbl)
          val walk = java.nio.file.Files.walk(root)
          val all = try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala.toVector
          } finally walk.close()
          (all.count(p => p.getFileName.toString.contains("bucket=")),
            all.count(_.getFileName.toString.endsWith(".parquet")))
        }
        val (pDirs, pFiles) = layout("postings")
        val (dDirs, dFiles) = layout("docs")
        println(s"[prof] layout: postings $pDirs bucket dirs / $pFiles files, " +
          s"docs $dDirs bucket dirs / $dFiles files")
        // per-table files read by the plans ONE search actually executes
        // (hydration makes the result a driver-local frame, so the scans
        // live in the intermediate query executions — captured via
        // listener). AQE is off around this measurement: it hides
        // FileSourceScanExec inside query stages, and pruning is static
        // partition filtering + pushdown, which AQE does not change.
        import org.apache.spark.sql.execution.FileSourceScanExec
        def searchFiles(run: => Unit): Map[String, Long] = {
          val qes = new java.util.concurrent.ConcurrentLinkedQueue[
            org.apache.spark.sql.execution.QueryExecution]()
          val listener = new org.apache.spark.sql.util.QueryExecutionListener {
            override def onSuccess(f: String,
                qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
              qes.add(qe); ()
            }
            override def onFailure(f: String,
                qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
          }
          spark.listenerManager.register(listener)
          try { run; ListenerBusAccess.drain(spark.sparkContext) } finally
            spark.listenerManager.unregister(listener)
          import scala.jdk.CollectionConverters._
          qes.asScala.toVector.flatMap(_.executedPlan.collect {
            case f: FileSourceScanExec =>
              val root = f.relation.location.rootPaths.head.toString
              root.split('/').last -> f.metrics("numFiles").value
          }).groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sum }
        }
        val qPool = docs.filter(col("id") < 212).orderBy("id").collect()
          .map(_.getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("colbert")
            .map(_.toArray).toArray)
        val opts = SearchOptions(kTopCentroids = 4, nProbe = 32, numSecondPass = 64)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        var single: org.apache.spark.sql.DataFrame = null
        val probed = searchFiles {
          time("single search (cold)") {
            single = idx.search(1, VectorQuery("colbert", qPool(0)), k = 10, opts)
            single.collect()
          }
        }
        // a tight probe shows the 16-way directory granularity itself
        val tight = searchFiles {
          idx.search(1, VectorQuery("colbert", qPool(0)),
            k = 10, opts.copy(nProbe = 4)).collect()
        }
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        def fmt(m: Map[String, Long]): String =
          Seq("postings", "context", "docs").map(t =>
            s"$t=${m.getOrElse(t, 0L)}").mkString(", ")
        println(s"[prof] files read per search: nProbe=32 {${fmt(probed)}}, " +
          s"nProbe=4 {${fmt(tight)}} of postings=$pFiles, docs=$dFiles " +
          s"(docs pruned to the k=10 ids' buckets)")
        // term-equality probe at shape: 100k scalar postings over 5000
        // distinct values; the driver-known value's bucket prunes dirs
        val (_, sFiles) = layout("scalars")
        def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
          df.collect()
          df.queryExecution.executedPlan.collect {
            case f: FileSourceScanExec => f.metrics("numFiles").value
          }.sum
        }
        val canon = "1234"
        val sProbe = numFiles(idx.scalarsDf.filter(col("tenant") === 1 &&
          col("field") === 1 &&
          col("value_bucket") === graft.index.IndexIVF.valueBucketOf(canon) &&
          col("value_str") === canon))
        println(s"[prof] term probe n_chars=$canon: $sProbe of $sFiles scalar files")
        // the amortized serving shape: 212 queries through ONE batch pass
        val queries = qPool.zipWithIndex
          .map { case (toks, i) => (i.toLong, toks.map(_.toSeq).toSeq) }.toSeq
          .toDF("query_id", "tokens")
        val t0 = System.nanoTime()
        val res = graft.query.BatchSearcher.searchBatch(
          idx, 1, "colbert", queries, k = 10, opts)
        val n = res.count()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"[prof] batch 212 queries: ${ms / 1000}%.2f s total, " +
          f"${ms / 212}%.1f ms/query amortized, $n result rows")
      case "assign" =>
        // centroid-assignment throughput at production K (VERDICT r7 #3):
        // sf0.1 embeddings as the token stream, K=4096 random centroids.
        // Old = per-token scalar scan of the whole centroid matrix; new =
        // GEMM-shaped assignBlock (tiled + 4-token register blocking).
        // Assignments are bit-identical (CoarseQuantizerSpec).
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
          .select("embedding").limit(30000).collect()
          .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
        val d = e.head.length
        val n = e.length
        val rnd = new scala.util.Random(11)
        val k = 4096
        val cents = Array.fill(k)(Array.fill(d)(rnd.nextFloat() * 2f - 1f))
        val cq = new graft.quantizers.CoarseQuantizer(cents)
        val flat = new Array[Float](n * d)
        e.zipWithIndex.foreach { case (v, i) => System.arraycopy(v, 0, flat, i * d, d) }
        // the r7 formulation, verbatim: per-token sequential scan of the
        // ragged centroid matrix with a plain reduction-chain dot
        def oldAssign(v: Array[Float]): Int = {
          var best = 0; var bestScore = Float.NegativeInfinity; var c = 0
          while (c < k) {
            val ce = cents(c)
            var s = 0.0f; var i = 0
            while (i < v.length) { s += v(i) * ce(i); i += 1 }
            if (s > bestScore) { bestScore = s; best = c }
            c += 1
          }
          best
        }
        println(s"[prof] $n tokens, dim $d, K $k")
        // C2 warmup on both paths (the Vector API runs interpreted until
        // compiled; an ingest job warms it within its first documents)
        (1 to 3).foreach { _ => cq.assignBlock(flat, n); e.take(200).map(oldAssign) }
        (1 to 4).foreach { i =>
          val t0 = System.nanoTime()
          val a = e.map(oldAssign)
          val t1 = System.nanoTime()
          val b = cq.assignBlock(flat, n)
          val t2 = System.nanoTime()
          assert(a.toSeq == b.toSeq, "old and blocked assignments diverged")
          val sOld = (t1 - t0) / 1e9; val sNew = (t2 - t1) / 1e9
          println(f"[prof] scalar #$i ${sOld}%8.3f s (${n / sOld / 1e3}%8.1f ktok/s)  " +
            f"block ${sNew}%8.3f s (${n / sNew / 1e3}%8.1f ktok/s)  " +
            f"speedup ${sOld / sNew}%5.2f x")
        }
      case "cap" =>
        // plain window+rank-filter (what sourceCapKept ships — Catalyst's
        // InferWindowGroupLimit makes it a partial pre-shuffle group limit)
        // vs an explicit hand-salted two-phase, on a SKEWED corpus: one
        // source holds 80% of the rows (the hot-domain shape of a web
        // corpus). Measured a WASH at 4M and 24M rows — the evidence that
        // the optimizer-native form needs no hand-salting. Same kept count
        // both ways (asserted).
        import graft.queries.TextPipeline
        import org.apache.spark.sql.expressions.Window
        val n = sys.env.getOrElse("SPARK_GRAFT_CAP_ROWS", "4000000").toLong
        val skewed = spark.range(n).select(
          col("id").as("doc_id"),
          // 80% src_hot, the rest spread over 50 cold sources
          when(pmod(col("id"), lit(10)) < 8, "src_hot")
            .otherwise(concat(lit("src_"), pmod(col("id"), lit(50)))).as("source"),
          pmod(col("id") * 2654435761L, lit(100000)).cast("int").as("n_chars"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        println(s"[prof] rows: ${skewed.count()}")
        def salted() = {
          val cap = TextPipeline.SourceCap
          val keepOrder = Seq(col("n_chars").desc, col("doc_id"))
          val wLocal = Window.partitionBy(col("source"), col("salt"))
            .orderBy(keepOrder: _*)
          val wGlobal = Window.partitionBy(col("source")).orderBy(keepOrder: _*)
          skewed.withColumn("salt", pmod(hash(col("doc_id")), lit(8)))
            .withColumn("lrk", row_number().over(wLocal)).filter(col("lrk") <= cap)
            .withColumn("rk", row_number().over(wGlobal)).filter(col("rk") <= cap)
            .count()
        }
        val plain = time("plain (WindowGroupLimit)")(TextPipeline.sourceCapKept(skewed).count())
        val two = time("hand-salted two-phase")(salted())
        time("plain again")(TextPipeline.sourceCapKept(skewed).count())
        time("salted again")(salted())
        require(plain == two, s"kept sets diverge: plain $plain vs salted $two")
        println(s"[prof] kept rows: $plain")

      case "batch_scale" =>
        // batch212 timing, success@5 and single-search files touched on ONE
        // production-shaped index, built once at a FIXED path and reused by later
        // invocations — the build (~6 min at 1M docs) would otherwise
        // swamp every measurement session. args: [nDocs] [K] [codec]
        // (codec in none|sq8|pq|binarizer; default none — the r11 campaign
        // shape. A real codec shrinks the byte-bound context scans /
        // broadcast 4-32x, VERDICT r12 #4).
        import graft.core._
        import graft.query._
        import spark.implicits._
        val dimB = 128
        val nDocsB = args.lift(1).map(_.toInt).getOrElse(1000000)
        // [tpd] (arg 6): tokens per doc — 4 = the r11-r15 campaign default
        val tpdB = args.lift(6).map(_.toInt).getOrElse(4)
        val kB = args.lift(2).map(_.toInt).getOrElse(16384)
        val codecB = args.lift(3).getOrElse("none").toLowerCase match {
          case "none" => QuantizerKind.NONE
          case "sq8" => QuantizerKind.SQ8
          case "pq" => QuantizerKind.PRODUCT_ENCODER
          case "binarizer" => QuantizerKind.BINARIZER
          case other => sys.error(s"unknown codec $other")
        }
        val codecSuffix =
          if (codecB == QuantizerKind.NONE) "" else s"_${args(3).toLowerCase}"
        // [iters]: Lloyd's iterations for the coarse quantizer — the
        // index-quality knob of the r13 candidate-volume campaign (more
        // iterations -> tighter, better-balanced centroids -> smaller
        // probe lists at equal recall). Default 2 = the r11-r13 campaign
        // shape; a non-default gets its own index path.
        val itersB = args.lift(4).map(_.toInt).getOrElse(2)
        val iterSuffix = if (itersB == 2) "" else s"_it$itersB"
        // [geom]: corpus geometry (uniform | clustered, see geomTokensExpr)
        val geomB = args.lift(5).getOrElse("uniform")
        val pathB = s"/root/repo/target/prof_batch_scale_${nDocsB}_$kB" +
          s"$codecSuffix$iterSuffix${geomSuffix(geomB)}${widthSuffix(tpdB)}"
        val tokensExprB = geomTokensExpr(geomB, tpdB, dimB, noise = 0.0)
        val docsB = spark.range(nDocsB.toLong).select(col("id"),
          tokensExprB.as("colbert"), pmod(col("id") * 31L, lit(5000)).as("n_chars"))
        // reuse only a COMPLETED build (create writes _meta before train/add,
        // so _meta alone can mark a half-built index after an OOM/kill)
        val readyMarker = java.nio.file.Paths.get(pathB, "_prof_ready")
        val idxB =
          if (java.nio.file.Files.exists(readyMarker)) {
            println(s"[prof] reusing index at $pathB")
            graft.index.IndexIVF.open(spark, pathB)
          } else {
            if (java.nio.file.Files.exists(java.nio.file.Paths.get(pathB))) {
              println(s"[prof] wiping partial build at $pathB")
              val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(pathB))
              try {
                import scala.jdk.CollectionConverters._
                walk.iterator().asScala.toVector.reverse
                  .foreach(java.nio.file.Files.delete)
              } finally walk.close()
            }
            val schema = GSchema(Seq(
              GField.colbert("colbert", dimensions = dimB,
                numCentroids = kB, quantization = codecB,
                numIterations = itersB, nbits = 2),
              GField(name = "n_chars", dataType = GDataType.INTEGER.toString,
                roles = Seq(FieldRole.Indexed.toString, FieldRole.Stored.toString))))
            val ix = graft.index.IndexIVF.create(spark, pathB, schema)
            time(s"train K=$kB dim=$dimB n=${nDocsB * tpdB}") { ix.train(docsB) }
            time(s"add $nDocsB docs") { ix.add(1, docsB) }
            java.nio.file.Files.createFile(readyMarker)
            ix
          }
        val qPoolB = docsB.filter(col("id") < 212).orderBy("id").collect()
          .map(_.getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("colbert")
            .map(_.toArray).toArray)
        val queriesB = qPoolB.zipWithIndex
          .map { case (toks, i) => (i.toLong, toks.map(_.toSeq).toSeq) }.toSeq
          .toDF("query_id", "tokens")
        val optsB = SearchOptions(kTopCentroids = 4, nProbe = 32, numSecondPass = 64)
        // codegen warm-up on a small batch before anything is measured
        BatchSearcher.searchBatch(idxB, 1, "colbert",
          queriesB.limit(8), k = 10, optsB).count()
        (0 until 4).foreach { i =>
          val t0 = System.nanoTime()
          val n = BatchSearcher.searchBatch(idxB, 1, "colbert", queriesB,
            k = 10, optsB).count()
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"[prof] batch 212 #$i ${ms / 1000}%7.2f s " +
            f"total ${ms / 212}%7.1f ms/query  $n rows")
        }
        // quality at shape (VERDICT r12 stretch #7): query i IS doc i's
        // token set, so "doc i in the top-5" is the natural qrel — the
        // first success@5 number at the 10M scale, per codec
        val hits5 = BatchSearcher.searchBatch(idxB, 1, "colbert", queriesB,
          k = 5, optsB).filter(col("query_id") === col("doc_id")).count()
        println(f"[prof] success@5 self-retrieval (212 queries, codec=${codecB}): " +
          f"${hits5.toDouble / 212}%.4f")
        // single-search latency + per-table files touched at THIS corpus
        // shape (VERDICT r10 #4: is the bucket-blind thin context scan's
        // listing/footer cost the next fixed cost at 10M docs?)
        import org.apache.spark.sql.execution.FileSourceScanExec
        def searchFilesB(run: => Unit): Map[String, Long] = {
          val qes = new java.util.concurrent.ConcurrentLinkedQueue[
            org.apache.spark.sql.execution.QueryExecution]()
          val listener = new org.apache.spark.sql.util.QueryExecutionListener {
            override def onSuccess(f: String,
                qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
              qes.add(qe); ()
            }
            override def onFailure(f: String,
                qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
          }
          spark.listenerManager.register(listener)
          try { run; ListenerBusAccess.drain(spark.sparkContext) } finally
            spark.listenerManager.unregister(listener)
          import scala.jdk.CollectionConverters._
          qes.asScala.toVector.flatMap(_.executedPlan.collect {
            case f: FileSourceScanExec =>
              val root = f.relation.location.rootPaths.head.toString
              root.split('/').last -> f.metrics("numFiles").value
          }).groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sum }
        }
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        var filesTouched: Map[String, Long] = Map.empty
        (1 to 3).foreach { i =>
          val t0 = System.nanoTime()
          filesTouched = searchFilesB {
            idxB.search(1, VectorQuery("colbert", qPoolB(0)), k = 10, optsB)
              .collect()
          }
          // searchFilesB sleeps 1.5 s for listener drain — time the search only
          println(f"[prof] single search #$i ${(System.nanoTime() - t0) / 1e9 - 1.5}%7.2f s  " +
            filesTouched.toSeq.sortBy(_._1)
              .map { case (t, n) => s"$t=$n" }.mkString(", "))
        }
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        // context-table layout at shape: directories/files the thin scan lists
        def layoutB(tbl: String): (Long, Long) = {
          val root = java.nio.file.Paths.get(pathB, tbl)
          val walk = java.nio.file.Files.walk(root)
          val all = try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala.toVector
          } finally walk.close()
          (all.count(p => p.getFileName.toString.contains("bucket=")),
            all.count(_.getFileName.toString.endsWith(".parquet")))
        }
        Seq("postings", "context", "docs").foreach { t =>
          val (dirs, files) = layoutB(t)
          println(s"[prof] layout $t: $dirs bucket dirs, $files parquet files")
        }

      case "batch_gate_cross" =>
        // r19: the gate-crossing A/B for the over-gate DISTRIBUTED inverted
        // walk — the same 212-query batch measured (a) under the broadcast
        // gate (broadcast-snapshot walk), (b) past a FORCED gate
        // (doc-partitioned distributed walk). Rows are asserted identical
        // across arms. Reuses the batch_scale index path/builder.
        // args: [nDocs] [K] [codec] [iters] [geom] [tpd]
        import graft.core._
        import graft.query._
        import spark.implicits._
        val dimG = 128
        val nDocsG = args.lift(1).map(_.toInt).getOrElse(1000000)
        val kG = args.lift(2).map(_.toInt).getOrElse(16384)
        val codecG = args.lift(3).getOrElse("none").toLowerCase match {
          case "none" => QuantizerKind.NONE
          case "sq8" => QuantizerKind.SQ8
          case "pq" => QuantizerKind.PRODUCT_ENCODER
          case "binarizer" => QuantizerKind.BINARIZER
          case other => sys.error(s"unknown codec $other")
        }
        val codecSufG =
          if (codecG == QuantizerKind.NONE) "" else s"_${args(3).toLowerCase}"
        val itersG = args.lift(4).map(_.toInt).getOrElse(2)
        val iterSufG = if (itersG == 2) "" else s"_it$itersG"
        val geomG = args.lift(5).getOrElse("uniform")
        val tpdG = args.lift(6).map(_.toInt).getOrElse(4)
        val pathG = s"/root/repo/target/prof_batch_scale_${nDocsG}_$kG" +
          s"$codecSufG$iterSufG${geomSuffix(geomG)}${widthSuffix(tpdG)}"
        val docsG = spark.range(nDocsG.toLong).select(col("id"),
          geomTokensExpr(geomG, tpdG, dimG, noise = 0.0).as("colbert"),
          pmod(col("id") * 31L, lit(5000)).as("n_chars"))
        val readyG = java.nio.file.Paths.get(pathG, "_prof_ready")
        val idxG =
          if (java.nio.file.Files.exists(readyG)) {
            println(s"[prof] reusing index at $pathG")
            graft.index.IndexIVF.open(spark, pathG)
          } else {
            if (java.nio.file.Files.exists(java.nio.file.Paths.get(pathG))) {
              println(s"[prof] wiping partial build at $pathG")
              val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(pathG))
              try {
                import scala.jdk.CollectionConverters._
                walk.iterator().asScala.toVector.reverse
                  .foreach(java.nio.file.Files.delete)
              } finally walk.close()
            }
            val schema = GSchema(Seq(
              GField.colbert("colbert", dimensions = dimG,
                numCentroids = kG, quantization = codecG,
                numIterations = itersG, nbits = 2),
              GField(name = "n_chars", dataType = GDataType.INTEGER.toString,
                roles = Seq(FieldRole.Indexed.toString, FieldRole.Stored.toString))))
            val ix = graft.index.IndexIVF.create(spark, pathG, schema)
            time(s"train K=$kG dim=$dimG n=${nDocsG * tpdG}") { ix.train(docsG) }
            time(s"add $nDocsG docs") { ix.add(1, docsG) }
            java.nio.file.Files.createFile(readyG)
            ix
          }
        val qPoolG = docsG.filter(col("id") < 212).orderBy("id").collect()
          .map(_.getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("colbert")
            .map(_.toArray).toArray)
        val queriesG = qPoolG.zipWithIndex
          .map { case (toks, i) => (i.toLong, toks.map(_.toSeq).toSeq) }.toSeq
          .toDF("query_id", "tokens")
        val optsG = SearchOptions(kTopCentroids = 4, nProbe = 32, numSecondPass = 64)
        // codegen warm-up (small batch, under-gate default)
        BatchSearcher.searchBatch(idxG, 1, "colbert",
          queriesG.limit(8), k = 10, optsG).count()
        val (rowsG, bytesG) = BatchSearcher.contextRelationStats(idxG, 1, "colbert")
        println(s"[prof] context relation: $rowsG rows, $bytesG bytes " +
          s"(default gate ${1L << 30})")
        def arm(name: String): Seq[org.apache.spark.sql.Row] = {
          var last: Seq[org.apache.spark.sql.Row] = Seq.empty
          (0 until 3).foreach { i =>
            val t0 = System.nanoTime()
            last = BatchSearcher.searchBatch(idxG, 1, "colbert", queriesG,
              k = 10, optsG).collect().toSeq
            val ms = (System.nanoTime() - t0) / 1e6
            println(f"[prof] gate_cross $name%-28s #$i ${ms / 1000}%7.2f s " +
              f"${ms / 212}%7.1f ms/query  ${last.size} rows")
          }
          last.sortBy(r => (r.getLong(0), r.getLong(1)))
        }
        val underGate = arm("under-gate (bcast walk)")
        // force the over-gate regime well below the measured bytes
        spark.conf.set(BatchSearcher.BroadcastContextMaxBytesKey, "1024")
        val distWalk = arm("over-gate distributed walk")
        spark.conf.unset(BatchSearcher.BroadcastContextMaxBytesKey)
        require(distWalk == underGate,
          "over-gate distributed walk rows diverged from the under-gate walk")
        println("[prof] gate_cross: both arms returned identical rows")

      case "batch_width" =>
        // r13 verdict item 1: pair the nq=4 and nq=32 serving floors on
        // the SAME production-shaped index, post-ScoreKernel. Query i at
        // width 32 is doc i's 4 tokens TILED 8x: MaxSim sums per-token
        // maxes, so scores scale ~linearly with the tile count, rankings
        // are invariant up to float-summation ties, and probe selection
        // dedups per centroid so the probe set — hence the candidate
        // volume — is IDENTICAL between widths. The only variable left is
        // the per-pair kernel width, which crosses the SIMD dispatch gate
        // (one full token vector, lanes on this host) at 32 but not at 4:
        // this isolates the kernel's macro effect on the attributed
        // phase-1 floor. args: [nDocs] [K] [codec] [tile]
        import graft.query._
        import spark.implicits._
        val dimW = 128
        val nDocsW = args.lift(1).map(_.toInt).getOrElse(10000000); val tpdW = 4
        val kW = args.lift(2).map(_.toInt).getOrElse(49152)
        val codecSuffixW = args.lift(3).map(c => s"_${c.toLowerCase}")
          .filter(_ != "_none").getOrElse("")
        val tileW = args.lift(4).map(_.toInt).getOrElse(8)
        val pathW = s"/root/repo/target/prof_batch_scale_${nDocsW}_$kW$codecSuffixW"
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(pathW, "_prof_ready")),
          s"run batch_scale $nDocsW $kW first to build the index")
        val idxW = graft.index.IndexIVF.open(spark, pathW)
        val tokensExprW = expr(
          s"""transform(sequence(0, ${tpdW - 1}), t ->
             |  transform(sequence(0, ${dimW - 1}), d ->
             |    cast(pmod(xxhash64(id, t, d), 2000) / 1000.0 - 1.0 as float)))"""
            .stripMargin)
        val qPoolW = spark.range(nDocsW.toLong).select(col("id"),
          tokensExprW.as("colbert")).filter(col("id") < 212).orderBy("id").collect()
          .map(_.getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("colbert")
            .map(_.toArray).toArray)
        def tiled(toks: Array[Array[Float]], times: Int): Array[Array[Float]] =
          Array.fill(times)(toks).flatten
        def qDf(tile: Int) = qPoolW.zipWithIndex
          .map { case (toks, i) =>
            (i.toLong, tiled(toks, tile).map(_.toSeq).toSeq) }.toSeq
          .toDF("query_id", "tokens")
        val optsW = SearchOptions(kTopCentroids = 4, nProbe = 32, numSecondPass = 64)
        val widths = Seq(1 -> qDf(1), tileW -> qDf(tileW))
        // codegen + broadcast warmup at both widths before measuring
        widths.foreach { case (_, q) =>
          BatchSearcher.searchBatch(idxW, 1, "colbert", q.limit(8), 10, optsW).count()
        }
        val top10 = scala.collection.mutable.Map[Int, Map[Long, Seq[Long]]]()
        widths.foreach { case (t, q) =>
          val nq = tpdW * t
          (1 to 2).foreach { i =>
            val t0 = System.nanoTime()
            BatchSearcher.searchBatch(idxW, 1, "colbert", q,
              k = 10, optsW.copy(secondPass = false)).count()
            val ms = (System.nanoTime() - t0) / 1e6
            println(f"[prof] batch_width nq=$nq%-3d phase1-only #$i " +
              f"${ms / 1000}%7.2f s  ${ms / 212}%7.1f ms/query")
          }
          (1 to 2).foreach { i =>
            val t0 = System.nanoTime()
            BatchSearcher.searchBatch(idxW, 1, "colbert", q,
              k = 10, optsW).count()
            val ms = (System.nanoTime() - t0) / 1e6
            println(f"[prof] batch_width nq=$nq%-3d full        #$i " +
              f"${ms / 1000}%7.2f s  ${ms / 212}%7.1f ms/query")
          }
          val res = BatchSearcher.searchBatch(idxW, 1, "colbert", q, 10, optsW)
            .select("query_id", "doc_id", "score").collect()
            .groupBy(_.getLong(0)).map { case (qid, rows) =>
              qid -> rows.sortBy(r => (-r.getDouble(2), r.getLong(1)))
                .map(_.getLong(1)).toSeq }
          top10(t) = res
          val hits5 = res.count { case (qid, ids) => ids.take(5).contains(qid) }
          println(f"[prof] batch_width nq=$nq%-3d success@5 self-retrieval: " +
            f"${hits5.toDouble / 212}%.4f")
        }
        // ranking parity across widths: tiling scales every score by ~tile,
        // so top-10 membership should agree up to float-summation boundary
        // ties — report and bound the overlap rather than demand identity
        val overlaps = top10(1).keys.toSeq.sorted.map { qid =>
          val a = top10(1)(qid).toSet; val b = top10(tileW)(qid).toSet
          (a intersect b).size.toDouble / math.max(a.size, b.size)
        }
        val meanOv = overlaps.sum / overlaps.length
        println(f"[prof] batch_width top-10 overlap nq=$tpdW vs nq=${tpdW * tileW}: " +
          f"mean $meanOv%.4f min ${overlaps.min}%.4f")
        require(meanOv >= 0.95, f"tiled-width ranking diverged: $meanOv%.4f")

      case "ctx_lookup" =>
        // Is the CtxCodes binary search a material share of phase-1 at
        // NARROW widths? Each scored pair pays one indexOf over the
        // snapshot's sorted id array (log2(10M) ~ 23 probes, mostly cache
        // misses on an 80 MB array) before ~codes x nq x dim dot products;
        // at width 4 the two are plausibly comparable. Times random
        // lookups alone so the dots can't mask the answer.
        // args: [nDocs=10000000] [probes=2000000]
        val nL = args.lift(1).map(_.toInt).getOrElse(10000000)
        val probesL = args.lift(2).map(_.toInt).getOrElse(2000000)
        val idsL = Array.tabulate(nL)(i => i.toLong * 7)
        val offsL = Array.tabulate(nL + 1)(identity)
        val ctxL = new graft.functions.CtxCodes(idsL, offsL, new Array[Long](1))
        val rndL = new java.util.Random(11)
        val qIdsL = Array.fill(probesL)(idsL(rndL.nextInt(nL)))
        def sweepL(): Long = {
          var s = 0L; var i = 0
          while (i < probesL) { s += graft.functions.CtxCodes.indexOf(ctxL, qIdsL(i)); i += 1 }
          s
        }
        (1 to 2).foreach(_ => require(sweepL() > 0)) // warmup
        (1 to 3).foreach { r =>
          time(f"indexOf $probesL%d probes over $nL%d docs #$r") {
            require(sweepL() > 0)
          }
        }

      case "batch_frontier" =>
        // r13 verdict items 2/3/7 in one harness: per-(kTopCentroids,
        // nProbe) config on the production-shaped index, record (a) mean
        // candidates/query — the attributed floor's first factor, from the
        // postings footer counts x the driver's own probe selection; (b)
        // ms/q for the 212-batch; (c) success@5 on PERTURBED self-
        // retrieval qrels (each query = its doc's tokens + deterministic
        // U(-noise, +noise) jitter, the RetrievalQualitySpec recipe at
        // scale — unlike exact self-retrieval, phase-1 pruning can
        // actually lose the answer here). args: [nDocs] [K] [codec]
        // [noiseMils=50] [tile=1] [configs=1x8,2x16,4x32,8x64] [nsp=64]
        // [iters=2] [geom=uniform] [tpd=4] (targets the batch_scale build
        // with the matching iter/geom/width suffix)
        import graft.query._
        import spark.implicits._
        val dimF = 128
        val nDocsF = args.lift(1).map(_.toInt).getOrElse(10000000)
        val tpdF = args.lift(10).map(_.toInt).getOrElse(4)
        val kF = args.lift(2).map(_.toInt).getOrElse(49152)
        val codecSuffixF = args.lift(3).map(c => s"_${c.toLowerCase}")
          .filter(_ != "_none").getOrElse("")
        val noiseMilsF = args.lift(4).map(_.toInt).getOrElse(50)
        val tileF = args.lift(5).map(_.toInt).getOrElse(1)
        val configsF = args.lift(6).getOrElse("1x8,2x16,4x32,8x64").split(",")
          .map { s => val Array(a, b) = s.split("x"); (a.toInt, b.toInt) }.toSeq
        val nspF = args.lift(7).map(_.toInt).getOrElse(64)
        val itersF = args.lift(8).map(_.toInt).getOrElse(2)
        val geomF = args.lift(9).getOrElse("uniform")
        val iterSuffixF = if (itersF == 2) "" else s"_it$itersF"
        val pathF = s"/root/repo/target/prof_batch_scale_${nDocsF}_$kF" +
          s"$codecSuffixF$iterSuffixF${geomSuffix(geomF)}${widthSuffix(tpdF)}"
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(pathF, "_prof_ready")),
          s"run batch_scale $nDocsF $kF first to build the index")
        val idxF = graft.index.IndexIVF.open(spark, pathF)
        val fidF = idxF.mapper.id("colbert")
        // perturbed queries: doc tokens + U(-noise, noise), deterministic
        val noiseF = noiseMilsF / 1000.0
        val tokensExprF = geomTokensExpr(geomF, tpdF, dimF, noise = noiseF)
        val qPoolF = spark.range(nDocsF.toLong).select(col("id"),
          tokensExprF.as("colbert")).filter(col("id") < 212).orderBy("id").collect()
          .map(_.getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("colbert")
            .map(_.toArray).toArray)
        val queriesF = qPoolF.zipWithIndex
          .map { case (toks, i) =>
            (i.toLong, Array.fill(tileF)(toks).flatten.map(_.toSeq).toSeq) }.toSeq
          .toDF("query_id", "tokens")
        // postings footer counts per centroid (metadata-only job): the
        // candidate volume of a probe set is the sum of its list sizes
        val listSizes: Map[Long, Long] = idxF.postingsDf
          .filter(col("tenant") === 1 && col("field") === fidF)
          .groupBy("centroid").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val cqF = idxF.coarse("colbert")
        val ncF = cqF.numCentroids
        BatchSearcher.searchBatch(idxF, 1, "colbert", queriesF.limit(8), 10,
          SearchOptions(kTopCentroids = 2, nProbe = 8, numSecondPass = 64)).count()
        configsF.foreach { case (kt, np) =>
          val optsF = SearchOptions(kTopCentroids = kt, nProbe = np,
            numSecondPass = nspF)
          // driver-side probe selection — same code path the search uses
          val cands = qPoolF.map { toks =>
            val q = Array.fill(tileF)(toks).flatten
            val flat = new Array[Float](q.length * dimF)
            q.zipWithIndex.foreach { case (t, i) =>
              System.arraycopy(t, 0, flat, i * dimF, dimF) }
            val m = cqF.scoreBlock(flat, q.length)
            Searcher.topCentroids(m, q.length, ncF, math.min(kt, ncF), np)
              .map(c => listSizes.getOrElse(c, 0L)).sum
          }
          val meanCands = cands.sum.toDouble / cands.length
          val times = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            BatchSearcher.searchBatch(idxF, 1, "colbert", queriesF,
              k = 10, optsF).count()
            (System.nanoTime() - t0) / 1e6
          }
          // the quality run records the adaptive-cut escalation count (0
          // unless GRAFT_NSP_ESCALATE armed the saturation detector) — the
          // profiler is driver-side timers only, so it can ride untimed
          spark.conf.set(BatchSearcher.ProfileKey, "true")
          val hitIds = BatchSearcher.searchBatch(idxF, 1, "colbert", queriesF,
            k = 5, optsF).filter(col("query_id") === col("doc_id"))
            .select("query_id").collect().map(_.getLong(0)).toSet
          spark.conf.set(BatchSearcher.ProfileKey, "false")
          val escQ = BatchSearcher.lastProfile
            .getOrElse("adaptive_escalated_queries", 0.0).toInt
          val missed = (0L until 212L).filterNot(hitIds)
          println(f"[prof] frontier it=$itersF kTop=$kt%-3d nProbe=$np%-4d nsp=$nspF%-5d " +
            f"cands/q ${meanCands}%10.0f  ms/q ${times.min / 212}%7.1f  " +
            f"success@5 ${hitIds.size / 212.0}%.4f  escalated=$escQ  " +
            f"missed=${missed.mkString(",")}")
        }

      case "batch_breakdown" =>
        // r15 verdict item 1: decompose the FIXED per-batch serving cost —
        // on clustered geometry ms/q is candidate-flat, so the floor is
        // this pipeline overhead, not per-candidate compute. Runs repeated
        // 212-query batches with graft.batch.profile=true and prints, per
        // batch: the named in-call segments (queries collect, driver probe
        // selection, ctx byte gate, snapshot resolve, phase-1 pool action,
        // phase-2 multiget + rerank + per-task top-k as rerank_topk), the
        // searchBatch call wall, the final-action wall (the collect of the
        // driver-local result) and the unattributed remainder. Batch 1
        // vs 2+ separates one-time costs (ctx size scan, codegen) from the
        // steady-state floor. args: [nDocs] [K] [codec] [geom] [config=1x8]
        // [nsp=256] [reps=3]
        import graft.query._
        import spark.implicits._
        val dimB = 128; val tpdB = 4
        val nDocsB = args.lift(1).map(_.toInt).getOrElse(10000000)
        val kB = args.lift(2).map(_.toInt).getOrElse(49152)
        val codecSufB = args.lift(3).map(c => s"_${c.toLowerCase}")
          .filter(_ != "_none").getOrElse("")
        val geomB = args.lift(4).getOrElse("clustered")
        val (ktB, npB) = {
          val Array(a, b) = args.lift(5).getOrElse("1x8").split("x"); (a.toInt, b.toInt)
        }
        val nspB = args.lift(6).map(_.toInt).getOrElse(256)
        val repsB = args.lift(7).map(_.toInt).getOrElse(3)
        val pathB = s"/root/repo/target/prof_batch_scale_${nDocsB}_$kB" +
          s"$codecSufB${geomSuffix(geomB)}"
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(pathB, "_prof_ready")),
          s"run batch_scale $nDocsB $kB <codec> 2 $geomB first")
        val idxB = graft.index.IndexIVF.open(spark, pathB)
        val qPoolB = spark.range(nDocsB.toLong).select(col("id"),
          geomTokensExpr(geomB, tpdB, dimB, noise = 0.05).as("colbert"))
          .filter(col("id") < 212).orderBy("id").collect()
          .map(_.getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("colbert")
            .map(_.toArray).toArray)
        val queriesB = qPoolB.zipWithIndex
          .map { case (toks, i) => (i.toLong, toks.map(_.toSeq).toSeq) }.toSeq
          .toDF("query_id", "tokens")
        val optsB = SearchOptions(kTopCentroids = ktB, nProbe = npB,
          numSecondPass = nspB)
        // COLD snapshot-build row (r16 verdict item 6): the fresh handle has
        // no cached CtxCodes broadcast, so this one call pays the full
        // collect + CSR build + broadcast the first batch after open/mutation
        // would otherwise absorb in-band (prior rounds' breakdowns showed
        // 0.000 s here because the codegen warmup batch had already built it)
        // r18: warmBatchCaches also builds the phase-2 point store,
        // overlapped with the snapshot build — the row is their max
        val tWarm0 = System.nanoTime()
        idxB.warmBatchCaches(1, "colbert")
        println(f"[prof]   cold_warm_build        ${(System.nanoTime() - tWarm0) / 1e9}%8.3f s" +
          "  (snapshot + point store; one-time per index state, " +
          "warmBatchCaches at open hides it)")
        // codegen warmup on a small batch BEFORE any timed rep
        BatchSearcher.searchBatch(idxB, 1, "colbert", queriesB.limit(8), 10,
          SearchOptions(kTopCentroids = 2, nProbe = 8, numSecondPass = nspB)).count()
        spark.conf.set(BatchSearcher.ProfileKey, "true")
        // job-level attribution INSIDE the blocking actions: the context
        // broadcast build runs as its own job (scan + dedup shuffle +
        // collect) before the main phase-1 pass, so per-job walls separate
        // "build the 839 MiB relation" from "scan postings and score"
        val jobsB = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
        // stage-level attribution (r17): per-stage executor CPU vs wall and
        // input volume split phase-1's one big job into scan IO vs score
        // compute — the r18 target after planning + multiget fixes left
        // phase1_pool_action as ~68 % of the batch
        val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[
          (Int, Long, Long, Long, Long, Int, Long)]()
        val jlst = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val desc = Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .orElse(Option(js.properties)
                .flatMap(p => Option(p.getProperty("callSite.short"))))
              .getOrElse("?")
            jobsB.put(js.jobId, (js.time, desc)); ()
          }
          override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            Option(jobsB.remove(je.jobId)).foreach { case (t0, desc) =>
              jobLog.add((je.jobId, je.time - t0, desc))
            }
            ()
          }
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val m = si.taskMetrics
            if (m != null) stageLog.add((si.stageId, m.executorRunTime,
              m.executorCpuTime / 1000000L, m.inputMetrics.bytesRead,
              m.inputMetrics.recordsRead, si.numTasks, m.jvmGCTime))
            ()
          }
        }
        spark.sparkContext.addSparkListener(jlst)
        (1 to repsB).foreach { rep =>
          val t0 = System.nanoTime()
          val out = BatchSearcher.searchBatch(idxB, 1, "colbert", queriesB,
            10, optsB)
          val tCall = System.nanoTime()
          val n = out.count()
          val tDone = System.nanoTime()
          val segs = BatchSearcher.lastProfile
          ListenerBusAccess.drain(spark.sparkContext) // listener bus is async
          import scala.jdk.CollectionConverters._
          val jobs = jobLog.asScala.toVector.sortBy(-_._2)
          jobLog.clear()
          val callMs = (tCall - t0) / 1e6
          val actionMs = (tDone - tCall) / 1e6
          val totalMs = (tDone - t0) / 1e6
          println(f"[prof] breakdown rep=$rep ($ktB%dx$npB%d nsp=$nspB) " +
            f"total ${totalMs / 1000}%.2f s  ms/q ${totalMs / 212}%.1f  rows=$n")
          segs.toSeq.sortBy(-_._2).foreach { case (name, ms) =>
            println(f"[prof]   $name%-22s ${ms / 1000}%8.3f s  " +
              f"(${100 * ms / totalMs}%4.1f %% of total)")
          }
          val inCallOther = callMs - segs.values.sum
          println(f"[prof]   in-call-other          ${inCallOther / 1000}%8.3f s  " +
            f"(plan assembly + broadcast vars)")
          println(s"[prof]   multiget_body          " +
            graft.index.PointStore.MgProf.snapshot)
          graft.index.PointStore.MgProf.reset()
          println(f"[prof]   final_action           ${actionMs / 1000}%8.3f s  " +
            f"(${100 * actionMs / totalMs}%4.1f %% — collect of the " +
            "driver-local result)")
          jobs.take(8).foreach { case (jid, ms, desc) =>
            println(f"[prof]     job $jid%-4d ${ms / 1000.0}%8.3f s  " +
              desc.take(90))
          }
          val stages = stageLog.asScala.toVector.sortBy(-_._2)
          stageLog.clear()
          stages.take(6).foreach { case (sid, runMs, cpuMs, inB, inRec, nt, gcMs) =>
            println(f"[prof]     stage $sid%-4d run ${runMs / 1000.0}%8.3f " +
              f"cpu ${cpuMs / 1000.0}%8.3f core-s  gc ${gcMs / 1000.0}%7.3f  " +
              f"in ${inB / 1048576.0}%8.1f MiB/${inRec}%d rows  tasks=$nt%d")
          }
        }
        spark.sparkContext.removeSparkListener(jlst)
        spark.conf.set(BatchSearcher.ProfileKey, "false")

      case "batch_probe_group" =>
        // r17 verdict item 2: does splitting a big batch into
        // probe-overlap-clustered SUB-batches (one pruned postings scan per
        // group, each with a small enough probe union to re-enable the
        // centroid IN-list row-group pruning) beat ONE shared saturated
        // scan? Times arm A (one 212-query batch) against arm B (G greedy
        // probe-clustered sub-batches run sequentially) at the same
        // operating point, reporting ms/q and the postings-scan input rows
        // per arm (stage listener). args: [nDocs] [K] [codec] [geom]
        // [config=1x8] [nsp=256] [groups=4,8,16] [reps=2]
        import graft.query._
        import spark.implicits._
        val dimG = 128; val tpdG = 4
        val nDocsG = args.lift(1).map(_.toInt).getOrElse(10000000)
        val kG = args.lift(2).map(_.toInt).getOrElse(49152)
        val codecSufG = args.lift(3).map(c => s"_${c.toLowerCase}")
          .filter(_ != "_none").getOrElse("")
        val geomG = args.lift(4).getOrElse("clustered")
        val (ktG, npG) = {
          val Array(a, b) = args.lift(5).getOrElse("1x8").split("x"); (a.toInt, b.toInt)
        }
        val nspG = args.lift(6).map(_.toInt).getOrElse(256)
        val groupCounts = args.lift(7).map(_.split(",").map(_.toInt).toSeq)
          .getOrElse(Seq(4, 8, 16))
        val repsG = args.lift(8).map(_.toInt).getOrElse(2)
        val pathG = s"/root/repo/target/prof_batch_scale_${nDocsG}_$kG" +
          s"$codecSufG${geomSuffix(geomG)}"
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(pathG, "_prof_ready")),
          s"run batch_scale $nDocsG $kG <codec> 2 $geomG first")
        val idxG = graft.index.IndexIVF.open(spark, pathG)
        val qToksG = spark.range(nDocsG.toLong).select(col("id"),
          geomTokensExpr(geomG, tpdG, dimG, noise = 0.05).as("colbert"))
          .filter(col("id") < 212).orderBy("id").collect()
          .map(_.getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("colbert")
            .map(_.toArray).toArray)
        val optsG = SearchOptions(kTopCentroids = ktG, nProbe = npG,
          numSecondPass = nspG)
        // per-query probe sets (the same driver planning searchBatch runs)
        val probeSets: Array[Set[Long]] = qToksG.map { toks =>
          Searcher.probes(idxG, VectorQuery("colbert", toks), optsG).toSet
        }
        def queriesDf(ids: Seq[Int]) = ids
          .map(i => (i.toLong, qToksG(i).map(_.toSeq).toSeq)).toSeq
          .toDF("query_id", "tokens")
        // postings-scan input accounting: sum of input records across all
        // stages of the arm (dominated by the postings scan at this shape;
        // the context snapshot is warmed once outside the timed arms)
        val recIn = new java.util.concurrent.atomic.AtomicLong(0L)
        val grpLst = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val m = sc.stageInfo.taskMetrics
            if (m != null) { recIn.addAndGet(m.inputMetrics.recordsRead); () }
          }
        }
        idxG.warmBatchCaches(1, "colbert")
        BatchSearcher.searchBatch(idxG, 1, "colbert",
          queriesDf(0 until 8), 10,
          SearchOptions(kTopCentroids = 2, nProbe = 8, numSecondPass = nspG)).count()
        spark.sparkContext.addSparkListener(grpLst)
        def timedArm(name: String, groups: Seq[Seq[Int]]): Unit =
          (1 to repsG).foreach { rep =>
            recIn.set(0L)
            val t0 = System.nanoTime()
            var rows = 0L
            groups.foreach { g =>
              rows += BatchSearcher.searchBatch(idxG, 1, "colbert",
                queriesDf(g), 10, optsG).count()
            }
            val ms = (System.nanoTime() - t0) / 1e6
            ListenerBusAccess.drain(spark.sparkContext) // listener bus is async
            val distinctProbes = groups.map(g =>
              g.map(probeSets(_)).reduce(_ ++ _).size)
            println(f"[prof] probe_group $name%-14s rep=$rep " +
              f"total ${ms / 1000}%7.2f s  ms/q ${ms / 212}%6.1f  rows=$rows%d  " +
              f"scan_rows_in ${recIn.get()}%d  " +
              s"probes/group ${distinctProbes.mkString(",")}")
          }
        timedArm("A_one_batch", Seq(0 until 212))
        groupCounts.foreach { gc =>
          // greedy probe-overlap clustering: seed with the largest probe
          // sets, then place each query (descending size) into the capped
          // group with max Jaccard overlap against the group's probe union
          val cap = (212 + gc - 1) / gc
          val order = (0 until 212).sortBy(i => -probeSets(i).size)
          val members = Array.fill(gc)(List.newBuilder[Int])
          val unions = Array.fill(gc)(Set.empty[Long])
          val sizes = new Array[Int](gc)
          order.foreach { qi =>
            val ps = probeSets(qi)
            var best = -1; var bestScore = -1.0
            var g = 0
            while (g < gc) {
              if (sizes(g) < cap) {
                val score =
                  if (unions(g).isEmpty) 0.0
                  else ps.intersect(unions(g)).size.toDouble /
                    ps.union(unions(g)).size
                if (score > bestScore) { bestScore = score; best = g }
              }
              g += 1
            }
            members(best) += qi
            unions(best) = unions(best) ++ ps
            sizes(best) += 1
          }
          timedArm(s"B_${gc}_groups", members.map(_.result()).toSeq.filter(_.nonEmpty))
        }
        spark.sparkContext.removeSparkListener(grpLst)

      case "pointstore_micro" =>
        // isolate the multiget's per-task constant: same store, same pool
        // shape as batch_breakdown's phase 2, but timed standalone with
        // (a) a no-op scorer (pure resolve+IO+parse) vs (b) the real
        // decode+MaxSim scorer — the delta is scoring, the rest is the
        // harness floor. args: [nDocs] [K] [codec] [geom] [pairs=54272]
        import spark.implicits._
        val dimP = 128
        val nDocsP = args.lift(1).map(_.toInt).getOrElse(10000000)
        val kP = args.lift(2).map(_.toInt).getOrElse(49152)
        val codecSufP = args.lift(3).map(c => s"_${c.toLowerCase}")
          .filter(_ != "_none").getOrElse("")
        val geomP = args.lift(4).getOrElse("clustered")
        val nPairsP = args.lift(5).map(_.toInt).getOrElse(212 * 256)
        val pathP = s"/root/repo/target/prof_batch_scale_${nDocsP}_$kP" +
          s"$codecSufP${geomSuffix(geomP)}"
        val idxP = graft.index.IndexIVF.open(spark, pathP)
        val t0P = System.nanoTime()
        val (dirP, bucketsP) = idxP.pointStore(1, "colbert")
        println(f"[prof] pointstore resolve ${(System.nanoTime() - t0P) / 1e9}%.3f s " +
          s"dir=$dirP buckets=$bucketsP")
        val rndP = new scala.util.Random(11)
        val pairsP = Array.tabulate(nPairsP)(i =>
          ((i / 256).toLong, math.abs(rndP.nextLong()) % nDocsP))
        val bqP = spark.sparkContext.broadcast(idxP.quantizers("colbert"))
        val bQP = spark.sparkContext.broadcast(
          (0L until 212L).map(q => q -> Array.fill(4 * dimP)(rndP.nextFloat())).toMap)
        val noop: Array[Byte] => Long => Double = res => _ => res.length.toDouble
        val real: Array[Byte] => Long => Double = res => {
          val quant = bqP.value
          val n = res.length / quant.codeSize
          val doc = new Array[Float](n * dimP)
          var i = 0
          while (i < n) {
            val tok = quant.decode(java.util.Arrays.copyOfRange(
              res, i * quant.codeSize, (i + 1) * quant.codeSize))
            System.arraycopy(tok, 0, doc, i * dimP, dimP)
            i += 1
          }
          graft.scoring.Plaid.l2NormalizeInPlace(doc, n, dimP)
          qid => {
            val q = bQP.value(qid)
            graft.scoring.Plaid.scoreByResiduals(q, q.length / dimP, doc, n, dimP,
              normalize = false).toDouble
          }
        }
        Seq(("noop", noop), ("real", real)).foreach { case (name, fn) =>
          (1 to 4).foreach { rep =>
            val t0 = System.nanoTime()
            val n = graft.index.PointStore
              .multigetScore(spark, dirP, bucketsP, pairsP, fn).count()
            println(f"[prof] pointstore_micro $name rep=$rep " +
              f"${(System.nanoTime() - t0) / 1e6}%8.1f ms  rows=$n")
          }
        }

      case "frontier_miss" =>
        // Ground-truth reachability probe for batch_frontier misses: for
        // each given query id, brute-force exact MaxSim (phase-2 semantics:
        // doc tokens L2-normalized in place, raw query tokens, per-token
        // max clamped at 0) over the ENTIRE synthetic corpus — no index,
        // no pruning. The true doc's exact rank distinguishes "phase-1
        // pruning lost a reachable qrel" (an index-quality problem the
        // knobs could fix) from "the jitter moved the query genuinely
        // closer to another doc" (unreachable at ANY config — a qrel
        // ceiling, not an index defect). args: [nDocs] [noiseMils] [ids]
        // [geom]
        import spark.implicits._
        val dimM = 128; val tpdM = 4
        val nDocsM = args.lift(1).map(_.toInt).getOrElse(10000000)
        val noiseMilsM = args.lift(2).map(_.toInt).getOrElse(50)
        val idsM = args.lift(3).map(_.split(",").map(_.toLong).toSeq)
          .getOrElse(Seq(0L))
        val geomM = args.lift(4).getOrElse("uniform")
        val noiseM = noiseMilsM / 1000.0
        def toksExpr(noise: Double) = geomTokensExpr(geomM, tpdM, dimM, noise)
        val qToksM: Map[Long, Array[Array[Float]]] =
          spark.range(nDocsM.toLong).filter(col("id").isin(idsM: _*))
            .select(col("id"), toksExpr(noiseM).as("t")).collect()
            .map(r => r.getLong(0) ->
              r.getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("t")
                .map(_.toArray).toArray).toMap
        val docsM = spark.range(nDocsM.toLong)
          .select(col("id"), toksExpr(0.0).as("toks"))
        idsM.foreach { qid =>
          val bq = spark.sparkContext.broadcast(qToksM(qid))
          val scoreU = udf { (toks: scala.collection.Seq[scala.collection.Seq[Float]]) =>
            val qa = bq.value
            var total = 0.0
            var qi = 0
            while (qi < qa.length) {
              var best = 0.0 // phase-2 clamps per-token max at 0
              toks.foreach { t =>
                var nrm = 0.0; var i = 0
                while (i < t.length) { nrm += t(i) * t(i); i += 1 }
                val inv = if (nrm > 0) 1.0 / math.sqrt(nrm) else 1.0
                var dp = 0.0; i = 0
                while (i < t.length) { dp += t(i) * inv * qa(qi)(i); i += 1 }
                if (dp > best) best = dp
              }
              total += best; qi += 1
            }
            total
          }
          val scored = docsM.select(col("id"), scoreU(col("toks")).as("s")).cache()
          val own = scored.filter(col("id") === qid)
            .select("s").collect()(0).getDouble(0)
          val above = scored.filter(col("s") > own).count()
          val top5 = scored.orderBy(col("s").desc, col("id")).limit(5).collect()
            .map(r => f"${r.getLong(0)}:${r.getDouble(1)}%.4f").mkString(" ")
          scored.unpersist()
          bq.destroy()
          println(f"[prof] frontier_miss qid=$qid own=$own%.4f " +
            f"exact_rank=${above + 1} top5: $top5")
        }

      case "add_phase" =>
        // ingest attribution at production K (the serve-side K sweep made
        // K the quality/latency lever, paid for at add() time — this probe
        // says where that payment goes): single-thread assignBlock
        // throughput with the BUILT index's trained quantizer, scaled by
        // the measured add() wall. args: [nDocs] [K] [codec] [nTokens]
        val nDocsA = args.lift(1).map(_.toInt).getOrElse(10000000)
        val kA = args.lift(2).map(_.toInt).getOrElse(98304)
        val codecA = args.lift(3).map(c => s"_${c.toLowerCase}")
          .filter(_ != "_none").getOrElse("")
        val nTokA = args.lift(4).map(_.toInt).getOrElse(100000)
        val pathA = s"/root/repo/target/prof_batch_scale_${nDocsA}_$kA$codecA"
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(pathA, "_prof_ready")),
          s"run batch_scale $nDocsA $kA first to build the index")
        val idxA = graft.index.IndexIVF.open(spark, pathA)
        val cqA = idxA.coarse("colbert")
        val dA = 128
        val rndA = new scala.util.Random(7)
        val flatA = Array.fill(nTokA * dA)(rndA.nextFloat() * 2f - 1f)
        (1 to 2).foreach { _ =>
          cqA.assignBlock(java.util.Arrays.copyOf(flatA, 64 * dA), 64) }
        (1 to 3).foreach { i =>
          val t0 = System.nanoTime()
          val a = cqA.assignBlock(flatA, nTokA)
          val s = (System.nanoTime() - t0) / 1e9
          require(a.length == nTokA)
          println(f"[prof] add_phase assign #$i $nTokA tokens K=$kA " +
            f"$s%8.2f s  ${nTokA / s / 1e3}%8.1f ktok/s single-thread")
        }

      case "derive_width" =>
        // r15 verdict item 3 plumbing: derive a width arm from an existing
        // trained base WITHOUT retraining — copyTrained + add() at the
        // target tokens-per-doc. Methodologically sound for the width
        // study because geomTokensExpr's token distribution is
        // width-INDEPENDENT (cluster membership is per doc id, jitter per
        // (id, t, d) — tpd only changes how many draws each doc makes), so
        // sharing one centroid model across width arms removes the model
        // as a confounder; only doc width varies.
        // args: <fromTpd> <toTpd> [nDocs] [K] [codec] [geom]
        import spark.implicits._
        val dimD = 128
        val fromTpd = args(1).toInt
        val toTpd = args(2).toInt
        val nDocsD = args.lift(3).map(_.toInt).getOrElse(1000000)
        val kD = args.lift(4).map(_.toInt).getOrElse(16384)
        val codecSufD = args.lift(5).map(c => s"_${c.toLowerCase}")
          .filter(_ != "_none").getOrElse("_sq8")
        val geomD = args.lift(6).getOrElse("clustered")
        val fromPathD = s"/root/repo/target/prof_batch_scale_${nDocsD}_$kD" +
          s"$codecSufD${geomSuffix(geomD)}${widthSuffix(fromTpd)}"
        val toPathD = s"/root/repo/target/prof_batch_scale_${nDocsD}_$kD" +
          s"$codecSufD${geomSuffix(geomD)}${widthSuffix(toTpd)}"
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(fromPathD, "_prof_ready")),
          s"base $fromPathD not built")
        val toMarker = java.nio.file.Paths.get(toPathD, "_prof_ready")
        if (java.nio.file.Files.exists(toMarker)) {
          println(s"[prof] width arm already built at $toPathD")
        } else {
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(toPathD))) {
            println(s"[prof] wiping partial width arm at $toPathD")
            val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(toPathD))
            try {
              import scala.jdk.CollectionConverters._
              walk.iterator().asScala.toVector.reverse
                .foreach(java.nio.file.Files.delete)
            } finally walk.close()
          }
          val fromIdx = graft.index.IndexIVF.open(spark, fromPathD)
          val toIdx = graft.index.IndexIVF.copyTrained(fromIdx, toPathD)
          val docsD = spark.range(nDocsD.toLong).select(col("id"),
            geomTokensExpr(geomD, toTpd, dimD, noise = 0.0).as("colbert"),
            pmod(col("id") * 31L, lit(5000)).as("n_chars"))
          time(s"derive_width add $nDocsD docs x $toTpd tok") {
            toIdx.add(1, docsD)
          }
          java.nio.file.Files.createFile(toMarker)
          println(s"[prof] width arm ready at $toPathD (model shared from " +
            s"tpd=$fromTpd base)")
        }

      case "add_warmup" =>
        // r15 verdict item 4: bound the first-full-size-call Vector-API
        // penalty at PRODUCTION task granularity. The harness artifact is
        // an ~8x slow FIRST full-size assignBlock call (130 s OSR'd at
        // 20k tokens x K=49152); production add() instead makes millions
        // of small per-doc calls, which C2-compile after a few thousand
        // invocations — the hypothesis is the penalty amortizes to noise.
        // Receipt: fresh JVM (this run), copyTrained arm, one add() under
        // a task-end listener; per heaviest stage, the first tasks (by
        // launch time) vs the steady-state distribution. Run SOLO.
        // args: [nDocs] [K] [codec] [geom] [tpd]
        import spark.implicits._
        val dimW = 128
        val nDocsW = args.lift(1).map(_.toInt).getOrElse(1000000)
        val kW = args.lift(2).map(_.toInt).getOrElse(16384)
        val codecSufW = args.lift(3).map(c => s"_${c.toLowerCase}")
          .filter(_ != "_none").getOrElse("")
        val geomW = args.lift(4).getOrElse("uniform")
        val tpdW = args.lift(5).map(_.toInt).getOrElse(4)
        val basePathW = s"/root/repo/target/prof_batch_scale_${nDocsW}_$kW" +
          s"$codecSufW${geomSuffix(geomW)}${widthSuffix(tpdW)}"
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(basePathW, "_prof_ready")),
          s"run batch_scale first to build $basePathW")
        val baseW = graft.index.IndexIVF.open(spark, basePathW)
        val armPathW = s"${basePathW}_warmup_probe"
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(armPathW))) {
          val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(armPathW))
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala.toVector.reverse
              .foreach(java.nio.file.Files.delete)
          } finally walk.close()
        }
        val armW = graft.index.IndexIVF.copyTrained(baseW, armPathW)
        val docsW = spark.range(nDocsW.toLong).select(col("id"),
          geomTokensExpr(geomW, tpdW, dimW, noise = 0.0).as("colbert"),
          pmod(col("id") * 31L, lit(5000)).as("n_chars"))
        val tasksW = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
        val lstW = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            tasksW.add((te.stageId, te.taskInfo.launchTime, te.taskInfo.duration))
            ()
          }
        }
        spark.sparkContext.addSparkListener(lstW)
        val tW0 = System.nanoTime()
        val addWall =
          try { armW.add(1, docsW); (System.nanoTime() - tW0) / 1e9 }
          finally {
            // drain BEFORE removal: task events still queued would be lost
            ListenerBusAccess.drain(spark.sparkContext)
            spark.sparkContext.removeSparkListener(lstW)
          }
        import scala.jdk.CollectionConverters._
        val byStageW = tasksW.asScala.toVector.groupBy(_._1)
        println(f"[prof] add_warmup fresh-JVM add wall ${addWall}%.1f s " +
          f"($nDocsW docs x $tpdW tok, K=$kW, ${geomW})")
        byStageW.toSeq.sortBy(-_._2.map(_._3).sum).take(3).foreach { case (st, ts) =>
          val byLaunch = ts.sortBy(_._2).map(_._3)
          val cores = spark.sparkContext.defaultParallelism
          val firstWave = byLaunch.take(cores)
          val rest = byLaunch.drop(cores)
          val sortedRest = rest.sorted
          def pct(v: Vector[Long], q: Double): Long =
            if (v.isEmpty) 0L else v(math.min(v.length - 1, (q * v.length).toInt))
          println(f"[prof]   stage $st%-5d tasks=${ts.length}%-5d " +
            f"total ${ts.map(_._3).sum / 1000.0}%8.1f s  " +
            f"first-wave($cores) mean=${firstWave.sum / math.max(1, firstWave.length)}%-6d " +
            f"max=${firstWave.maxOption.getOrElse(0L)}%-6d ms  " +
            f"steady p50=${pct(sortedRest, 0.5)}%-6d p99=${pct(sortedRest, 0.99)}%-6d " +
            f"max=${sortedRest.lastOption.getOrElse(0L)}%-6d ms  " +
            f"firstmax/p50=${firstWave.maxOption.getOrElse(0L).toDouble /
              math.max(1, pct(sortedRest, 0.5))}%.2f x")
        }
        // leave no probe index behind
        val walkW = java.nio.file.Files.walk(java.nio.file.Paths.get(armPathW))
        try walkW.iterator().asScala.toVector.reverse
          .foreach(java.nio.file.Files.delete)
        finally walkW.close()

      case "assign_pruned" =>
        // Go/no-go prototype for the pruned EXACT assignment named by the
        // add_phase attribution (assignment = ~3/4 of the add wall, linear
        // in K, at the kernel's compute roof — the remaining lever is
        // scanning fewer centroids, not a faster scan). Groups the trained
        // centroids (G ~ sqrt K) with a few Lloyd's rounds over the
        // centroids themselves, precomputes group means and radii, then
        // assigns by descending upper bound dot(v, mu_g) + |v|*r_g with
        // STRICT pruning (ties still scanned) and the production kernel's
        // per-centroid scores, so any surviving candidate's score is
        // bit-identical to the full scan's. Reports tokens/s vs the full
        // assignBlock, mean % centroids scanned, and exact-parity count.
        // args: [nDocs] [K] [codec] [nTokens] [geom]
        val nDocsQ = args.lift(1).map(_.toInt).getOrElse(10000000)
        val kQ = args.lift(2).map(_.toInt).getOrElse(98304)
        val codecQ = args.lift(3).map(c => s"_${c.toLowerCase}")
          .filter(_ != "_none").getOrElse("")
        val nTokQ = args.lift(4).map(_.toInt).getOrElse(20000)
        val geomQ = args.lift(5).getOrElse("uniform")
        val pathQ =
          s"/root/repo/target/prof_batch_scale_${nDocsQ}_$kQ$codecQ${geomSuffix(geomQ)}"
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(pathQ, "_prof_ready")),
          s"run batch_scale $nDocsQ $kQ first to build the index")
        val cqQ = graft.index.IndexIVF.open(spark, pathQ).coarse("colbert")
        val cents = cqQ.centroids
        val dQ = cqQ.dim
        val G = math.max(1, math.round(math.sqrt(kQ.toDouble)).toInt)
        val centsFlat = new Array[Float](kQ * dQ)
        cents.zipWithIndex.foreach { case (c, i) =>
          System.arraycopy(c, 0, centsFlat, i * dQ, dQ) }
        // tokens shaped like real ingest: under the uniform geometry, a
        // trained centroid + 10% jitter (the r14 shape); under clustered,
        // fresh ids beyond the built corpus drawn from the SAME planted
        // distribution (one token per synthetic id — the marginal matches
        // the corpus, which is what an incoming add() sees)
        val toksQ: Array[Array[Float]] =
          if (geomQ == "uniform") {
            val rndQ = new scala.util.Random(13)
            Array.fill(nTokQ) {
              val base = cents(rndQ.nextInt(kQ))
              Array.tabulate(dQ)(j => base(j) + (rndQ.nextFloat() - 0.5f) * 0.2f)
            }
          } else {
            spark.range(nDocsQ.toLong, nDocsQ.toLong + nTokQ)
              .select(geomTokensExpr(geomQ, 1, dQ, noise = 0.0).as("t"))
              .collect()
              .map(_.getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("t")
                .head.toArray)
          }
        val flatQ = new Array[Float](nTokQ * dQ)
        toksQ.zipWithIndex.foreach { case (v, i) =>
          System.arraycopy(v, 0, flatQ, i * dQ, dQ) }
        // full-scan baseline (the production path) — timed BEFORE any
        // group-clustering call touches the shared static kernel: the r15
        // first cut ran it after 4 small-k Lloyd's rounds, whose profile
        // poisoned the JIT'd kernel and deflated the baseline ~9x (112
        // tok/s here vs 1.0 ktok/s for the IDENTICAL call in add_phase),
        // turning a 0.4-0.6x pruned SLOWDOWN into a phantom 4-5x win
        cqQ.assignBlock(java.util.Arrays.copyOf(flatQ, 64 * dQ), 64) // warmup
        val tF0 = System.nanoTime()
        val full = cqQ.assignBlock(flatQ, nTokQ)
        val sFull = (System.nanoTime() - tF0) / 1e9
        // group the centroid matrix itself: strided seeds + 4 Lloyd's rounds
        var means = Array.tabulate(G)(g => cents((g.toLong * kQ / G).toInt).clone())
        var groupOf: Array[Int] = null
        (1 to 4).foreach { _ =>
          groupOf = new graft.quantizers.CoarseQuantizer(means)
            .assignBlock(centsFlat, kQ)
          val sums = Array.fill(G)(new Array[Double](dQ))
          val cnt = new Array[Int](G)
          var i = 0
          while (i < kQ) {
            val g = groupOf(i); val c = cents(i); cnt(g) += 1
            var j = 0; while (j < dQ) { sums(g)(j) += c(j); j += 1 }
            i += 1
          }
          means = Array.tabulate(G) { g =>
            if (cnt(g) == 0) means(g)
            else Array.tabulate(dQ)(j => (sums(g)(j) / cnt(g)).toFloat)
          }
        }
        val members: Array[Array[Int]] = {
          val b = Array.fill(G)(new scala.collection.mutable.ArrayBuffer[Int])
          groupOf.zipWithIndex.foreach { case (g, c) => b(g) += c }
          b.map(_.toArray)
        }
        val nonEmpty = (0 until G).filter(members(_).nonEmpty).toArray
        val gq = nonEmpty.map(g =>
          new graft.quantizers.CoarseQuantizer(members(g).map(cents)))
        val radius = nonEmpty.map { g =>
          val mu = means(g)
          members(g).map { c =>
            var s = 0.0; var j = 0
            while (j < dQ) { val dd = cents(c)(j) - mu(j); s += dd * dd; j += 1 }
            math.sqrt(s)
          }.max
        }
        val mq = new graft.quantizers.CoarseQuantizer(nonEmpty.map(means))
        // pruned scan
        var scannedTotal = 0L; var mismatches = 0
        val tP0 = System.nanoTime()
        val order = new Array[Int](gq.length)
        toksQ.zipWithIndex.foreach { case (v, ti) =>
          var vn = 0.0; var j = 0
          while (j < dQ) { vn += v(j).toDouble * v(j); j += 1 }
          val vnorm = math.sqrt(vn)
          val slack = 1e-4 * (1.0 + vnorm)
          val muScores = mq.scoreBlock(v, 1)
          val bound = Array.tabulate(gq.length)(gi =>
            muScores(gi) + vnorm * radius(gi) + slack)
          var i = 0; while (i < order.length) { order(i) = i; i += 1 }
          val orderSorted = order.sortBy(gi => -bound(gi))
          var best = Double.NegativeInfinity; var bestId = Int.MaxValue
          var oi = 0; var break = false
          while (oi < orderSorted.length && !break) {
            val gi = orderSorted(oi)
            if (bound(gi) < best) break = true
            else {
              val s = gq(gi).scoreBlock(v, 1)
              val ids = members(nonEmpty(gi))
              scannedTotal += ids.length
              var mi = 0
              while (mi < ids.length) {
                val sc = s(mi).toDouble
                if (sc > best || (sc == best && ids(mi) < bestId)) {
                  best = sc; bestId = ids(mi)
                }
                mi += 1
              }
            }
            oi += 1
          }
          if (bestId != full(ti)) mismatches += 1
        }
        val sPruned = (System.nanoTime() - tP0) / 1e9
        println(f"[prof] assign_pruned K=$kQ G=${gq.length} n=$nTokQ  " +
          f"full ${nTokQ / sFull}%8.1f tok/s  pruned ${nTokQ / sPruned}%8.1f tok/s  " +
          f"speedup ${sFull / sPruned}%5.2f x  scanned " +
          f"${scannedTotal * 100.0 / (nTokQ.toLong * kQ)}%5.2f %% of K  " +
          f"mismatches $mismatches")

      case "assign_twolevel" =>
        // r14 verdict item 4 (kernel leg): the APPROXIMATE two-level
        // assignment now wired into add() behind spark.graft.add.
        // assignProbes. Times the exact full-scan baseline FIRST (the
        // assign_pruned JIT-poisoning lesson: small-k lloyd rounds through
        // the shared static kernel deflate a later big-K baseline ~9x),
        // then per probes setting: plan build wall, single-thread decide
        // throughput, speedup, and agreement % with the exact argmax —
        // the quality leg (success@5 on a full build) is assign_study.
        // args: [nDocs] [K] [codec] [nTokens] [geom] [probesList=2,4,8,16]
        val nDocsT = args.lift(1).map(_.toInt).getOrElse(10000000)
        val kT = args.lift(2).map(_.toInt).getOrElse(49152)
        val codecT = args.lift(3).map(c => s"_${c.toLowerCase}")
          .filter(_ != "_none").getOrElse("")
        val nTokT = args.lift(4).map(_.toInt).getOrElse(20000)
        val geomT = args.lift(5).getOrElse("clustered")
        val probesT = args.lift(6).getOrElse("2,4,8,16").split(",")
          .map(_.toInt).toSeq
        val pathT =
          s"/root/repo/target/prof_batch_scale_${nDocsT}_$kT$codecT${geomSuffix(geomT)}"
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(pathT, "_prof_ready")),
          s"run batch_scale $nDocsT $kT first to build the index")
        val cqT = graft.index.IndexIVF.open(spark, pathT).coarse("colbert")
        val dT = cqT.dim
        // incoming-ingest-shaped tokens: fresh ids beyond the built corpus
        // from the same planted distribution (the assign_pruned recipe)
        val flatT = {
          val toks = spark.range(nDocsT.toLong, nDocsT.toLong + nTokT)
            .select(geomTokensExpr(geomT, 1, dT, noise = 0.0).as("t"))
            .collect()
            .map(_.getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("t")
              .head.toArray)
          val f = new Array[Float](nTokT * dT)
          toks.zipWithIndex.foreach { case (v, i) =>
            System.arraycopy(v, 0, f, i * dT, dT) }
          f
        }
        cqT.assignBlock(java.util.Arrays.copyOf(flatT, 64 * dT), 64) // warmup
        // 3 reps like add_phase: rep-to-rep variance separates JIT warmup
        // from genuinely data-dependent throughput; a same-JVM uniform-
        // random control isolates the token DATA as the variable
        var exactT: Array[Int] = null
        var sExact = 0.0
        (1 to 3).foreach { i =>
          val tE0 = System.nanoTime()
          exactT = cqT.assignBlock(flatT, nTokT)
          sExact = (System.nanoTime() - tE0) / 1e9
          println(f"[prof] assign_twolevel K=$kT exact #$i ${nTokT / sExact}%9.1f tok/s " +
            f"(${sExact}%6.2f s for $nTokT)")
        }
        val rndC = new scala.util.Random(3)
        val flatRnd = Array.fill(nTokT * dT)(rndC.nextFloat() * 2f - 1f)
        val tR0 = System.nanoTime()
        cqT.assignBlock(flatRnd, nTokT)
        val sRnd = (System.nanoTime() - tR0) / 1e9
        println(f"[prof] assign_twolevel K=$kT exact RANDOM-tok control " +
          f"${nTokT / sRnd}%9.1f tok/s")
        probesT.foreach { p =>
          val tB0 = System.nanoTime()
          val plan = graft.quantizers.CoarseQuantizer.TwoLevelPlan
            .buildIp(cqT.centroids, p, seed = 42L)
          val sBuild = (System.nanoTime() - tB0) / 1e9
          plan.decideFlat(java.util.Arrays.copyOf(flatT, 64 * dT), 64) // warmup
          // min-of-2 like the exact baseline's warm reps — the first
          // full-size Vector-API call can run unintrinsified (see the
          // exact-rep spread above)
          var got: Array[Int] = null
          val sP = (1 to 2).map { _ =>
            val tP0 = System.nanoTime()
            got = plan.decideFlat(flatT, nTokT)
            (System.nanoTime() - tP0) / 1e9
          }.min
          val agree = got.indices.count(i => got(i) == exactT(i))
          println(f"[prof] assign_twolevel probes=$p%-3d G=${plan.memberIds.length}%-5d " +
            f"plan ${sBuild}%6.2f s  ${nTokT / sP}%9.1f tok/s  " +
            f"speedup ${sExact / sP}%5.2f x  agree ${agree * 100.0 / nTokT}%6.2f %%")
        }

      case "assign_study" =>
        // r14 verdict item 4 (full-build leg): ingest-wall vs success@5
        // frontier for the approximate add() assignment. Requires the base
        // EXACT index (batch_scale build); per probes arm: copyTrained ->
        // add() under the knob (wall timed) -> the batch_frontier quality
        // eval (perturbed self-retrieval qrels) at (1x8) x each nsp. The
        // base index runs the same eval as the exact row of the table.
        // args: [nDocs] [K] [codec] [iters=2] [geom] [probesList=8]
        // [nspList=256,1024] [configs=1x8] [tpd=4]
        import graft.query._
        import spark.implicits._
        val dimY = 128
        val tpdY = args.lift(9).map(_.toInt).getOrElse(4)
        val nDocsY = args.lift(1).map(_.toInt).getOrElse(10000000)
        val kY = args.lift(2).map(_.toInt).getOrElse(49152)
        val codecY = args.lift(3).map(c => s"_${c.toLowerCase}")
          .filter(_ != "_none").getOrElse("")
        val itersY = args.lift(4).map(_.toInt).getOrElse(2)
        val geomY = args.lift(5).getOrElse("clustered")
        val probesY = args.lift(6).getOrElse("8").split(",").map(_.toInt).toSeq
        val nspY = args.lift(7).getOrElse("256,1024").split(",").map(_.toInt).toSeq
        val configsY = args.lift(8).getOrElse("1x8").split(",")
          .map { s => val Array(a, b) = s.split("x"); (a.toInt, b.toInt) }.toSeq
        // nsp-escalation probes (mechanism receipts) legitimately exceed
        // the production driver-pool guard on this profiling harness
        spark.conf.set(BatchSearcher.MaxPoolBytesKey, (1L << 30).toString)
        val iterSuffixY = if (itersY == 2) "" else s"_it$itersY"
        val basePathY = s"/root/repo/target/prof_batch_scale_${nDocsY}_$kY" +
          s"$codecY$iterSuffixY${geomSuffix(geomY)}${widthSuffix(tpdY)}"
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(basePathY, "_prof_ready")),
          s"run batch_scale $nDocsY $kY ... $geomY first to build the base index")
        val baseY = graft.index.IndexIVF.open(spark, basePathY)
        val docsY = spark.range(nDocsY.toLong).select(col("id"),
          geomTokensExpr(geomY, tpdY, dimY, noise = 0.0).as("colbert"),
          pmod(col("id") * 31L, lit(5000)).as("n_chars"))
        // one arm per probes setting, reusing a completed arm across runs
        val arms: Seq[(String, String)] = ("exact", basePathY) +: probesY.map { p =>
          val pathP = s"${basePathY}_asg$p"
          val marker = java.nio.file.Paths.get(pathP, "_prof_ready")
          if (!java.nio.file.Files.exists(marker)) {
            if (java.nio.file.Files.exists(java.nio.file.Paths.get(pathP))) {
              println(s"[prof] wiping partial arm at $pathP")
              val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(pathP))
              try {
                import scala.jdk.CollectionConverters._
                walk.iterator().asScala.toVector.reverse
                  .foreach(java.nio.file.Files.delete)
              } finally walk.close()
            }
            val ix = graft.index.IndexIVF.copyTrained(baseY, pathP)
            // approximate assignment is harness-only since r17 (knob demoted
            // off the production add() path on the r15/r16 no-go receipts)
            time(s"add $nDocsY docs probes=$p") {
              if (p <= 0) ix.add(1, docsY)
              else ix.addWithApproxAssignForHarness(1, docsY, p)
            }
            java.nio.file.Files.createFile(marker)
          } else println(s"[prof] reusing arm at $pathP")
          (s"probes=$p", pathP)
        }
        // perturbed self-retrieval qrels — the batch_frontier recipe
        val qPoolY = spark.range(nDocsY.toLong).select(col("id"),
          geomTokensExpr(geomY, tpdY, dimY, noise = 0.05).as("colbert"))
          .filter(col("id") < 212).orderBy("id").collect()
          .map(_.getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("colbert")
            .map(_.toArray).toArray)
        val queriesY = qPoolY.zipWithIndex
          .map { case (toks, i) => (i.toLong, toks.map(_.toSeq).toSeq) }.toSeq
          .toDF("query_id", "tokens")
        arms.foreach { case (label, path) =>
          val idxA = graft.index.IndexIVF.open(spark, path)
          BatchSearcher.searchBatch(idxA, 1, "colbert", queriesY.limit(8), 10,
            SearchOptions(kTopCentroids = 1, nProbe = 8, numSecondPass = 64))
            .count() // codegen warmup per index
          for ((kt, np) <- configsY; nsp <- nspY) {
            val optsA = SearchOptions(kTopCentroids = kt, nProbe = np,
              numSecondPass = nsp)
            val times = (1 to 2).map { _ =>
              val t0 = System.nanoTime()
              BatchSearcher.searchBatch(idxA, 1, "colbert", queriesY,
                k = 10, optsA).count()
              (System.nanoTime() - t0) / 1e6
            }
            val hitIds = BatchSearcher.searchBatch(idxA, 1, "colbert",
              queriesY, k = 5, optsA)
              .filter(col("query_id") === col("doc_id"))
              .select("query_id").collect().map(_.getLong(0)).toSet
            val missed = (0L until 212L).filterNot(hitIds)
            println(f"[prof] assign_study $label%-10s ${kt}x$np%-4d nsp=$nsp%-5d " +
              f"ms/q ${times.min / 212}%7.1f  success@5 ${hitIds.size / 212.0}%.4f  " +
              f"missed=${missed.mkString(",")}")
          }
        }

      case "list_skew" =>
        // r14 verdict item 2: hot-centroid skew — the 100-TB serving hazard
        // a Zipf corpus creates that uniform data never could. Reports (a)
        // the STATIC skew: per-posting-list size distribution from the
        // footer counts (p50/p90/p99/max, top-list share); (b) the REALIZED
        // skew: per-stage task-time distribution of a 212-query batch at
        // the given operating points, captured with a task-end listener —
        // if one straggler list dominates phase-1, it shows up as a fat
        // task-time max in the heaviest stages; (c) the byte gates: the
        // measured broadcastable context relation vs its 1 GiB gate.
        // args: [nDocs] [K] [codec] [geom] [configs=1x8,4x32] [nsp=256]
        import graft.query._
        import spark.implicits._
        val dimS2 = 128; val tpdS2 = 4
        val nDocsS2 = args.lift(1).map(_.toInt).getOrElse(10000000)
        val kS2 = args.lift(2).map(_.toInt).getOrElse(49152)
        val codecSufS2 = args.lift(3).map(c => s"_${c.toLowerCase}")
          .filter(_ != "_none").getOrElse("")
        val geomS2 = args.lift(4).getOrElse("clustered")
        val configsS2 = args.lift(5).getOrElse("1x8,4x32").split(",")
          .map { s => val Array(a, b) = s.split("x"); (a.toInt, b.toInt) }.toSeq
        val nspS2 = args.lift(6).map(_.toInt).getOrElse(256)
        val pathS2 = s"/root/repo/target/prof_batch_scale_${nDocsS2}_$kS2" +
          s"$codecSufS2${geomSuffix(geomS2)}"
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(pathS2, "_prof_ready")),
          s"run batch_scale $nDocsS2 $kS2 <codec> 2 $geomS2 first")
        val idxS2 = graft.index.IndexIVF.open(spark, pathS2)
        val fidS2 = idxS2.mapper.id("colbert")
        // (a) static list-size skew (metadata-only footer counts)
        val sizesS2 = idxS2.postingsDf
          .filter(col("tenant") === 1 && col("field") === fidS2)
          .groupBy("centroid").count()
          .select(col("count")).as[Long].collect().sorted
        val totRows = sizesS2.map(BigInt(_)).sum
        def pctS2(p: Double): Long =
          sizesS2(math.min(sizesS2.length - 1, (p * sizesS2.length).toInt))
        val top16 = sizesS2.takeRight(16).map(BigInt(_)).sum
        println(f"[prof] list_skew static: lists=${sizesS2.length}%d " +
          f"mean=${totRows.toDouble / sizesS2.length}%.1f p50=${pctS2(0.5)}%d " +
          f"p90=${pctS2(0.9)}%d p99=${pctS2(0.99)}%d max=${sizesS2.last}%d " +
          f"(max/mean ${sizesS2.last * sizesS2.length / totRows.toDouble}%.1f x)  " +
          f"top-16-list row share ${(top16 * 10000 / totRows).toDouble / 100}%.2f %%")
        // (c) byte gate: measured broadcastable context relation
        val relBytes = BatchSearcher.contextRelationBytes(idxS2, 1, "colbert")
        println(f"[prof] list_skew ctx relation ${relBytes / 1048576.0}%.1f MiB " +
          f"vs broadcast gate ${(1L << 30) / 1048576}%d MiB -> " +
          (if (relBytes <= (1L << 30)) "broadcast path" else "shuffle fallback"))
        // (b) realized skew: perturbed geom-matched queries, task listener
        val qPoolS2 = spark.range(nDocsS2.toLong).select(col("id"),
          geomTokensExpr(geomS2, tpdS2, dimS2, noise = 0.05).as("colbert"))
          .filter(col("id") < 212).orderBy("id").collect()
          .map(_.getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("colbert")
            .map(_.toArray).toArray)
        val queriesS2 = qPoolS2.zipWithIndex
          .map { case (toks, i) => (i.toLong, toks.map(_.toSeq).toSeq) }.toSeq
          .toDF("query_id", "tokens")
        val taskQ = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
        val lst = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            taskQ.add((te.stageId, te.taskInfo.duration)); ()
          }
        }
        BatchSearcher.searchBatch(idxS2, 1, "colbert", queriesS2.limit(8), 10,
          SearchOptions(kTopCentroids = 2, nProbe = 8, numSecondPass = nspS2))
          .count() // codegen warmup before any listener attaches
        spark.sparkContext.addSparkListener(lst)
        try configsS2.foreach { case (kt, np) =>
          taskQ.clear()
          val opts = SearchOptions(kTopCentroids = kt, nProbe = np,
            numSecondPass = nspS2)
          val t0 = System.nanoTime()
          BatchSearcher.searchBatch(idxS2, 1, "colbert", queriesS2, 10, opts)
            .count()
          val wallMs = (System.nanoTime() - t0) / 1e6
          ListenerBusAccess.drain(spark.sparkContext) // listener bus is async
          import scala.jdk.CollectionConverters._
          val byStage = taskQ.asScala.toVector.groupBy(_._1)
            .map { case (st, ts) => (st, ts.map(_._2).sorted) }
          val all = taskQ.asScala.toVector.map(_._2).sorted
          def p(v: Vector[Long], q: Double): Long =
            if (v.isEmpty) 0L else v(math.min(v.length - 1, (q * v.length).toInt))
          println(f"[prof] list_skew ($kt%dx$np%d) wall ${wallMs / 1000}%.2f s " +
            f"ms/q ${wallMs / 212}%.1f  tasks=${all.length}%d " +
            f"task-ms p50=${p(all, 0.5)}%d p99=${p(all, 0.99)}%d max=${all.maxOption.getOrElse(0L)}%d")
          byStage.toSeq.sortBy(-_._2.sum).take(4).foreach { case (st, ts) =>
            println(f"[prof]   stage $st%-5d tasks=${ts.length}%-4d " +
              f"total ${ts.sum / 1000.0}%8.2f s  p50=${p(ts, 0.5)}%-6d " +
              f"p99=${p(ts, 0.99)}%-6d max=${ts.max}%-6d " +
              f"(max/p50 ${ts.max.toDouble / math.max(1, p(ts, 0.5))}%.1f x)")
          }
        } finally spark.sparkContext.removeSparkListener(lst)

      case "dsir_sens" =>
        // r14 verdict stretch item 8: what do the DSIR knobs buy? Runs the
        // production arm (dsirSampleGumbel) on this sf's documents table
        // under B in {64, 256, 1024} x n-gram order in {uni+bi, uni} and
        // reports each configuration's selection overlap with the default
        // (B=64, uni+bi) plus the Jaccard between adjacent B settings — the
        // operator-facing sensitivity receipt. The oracle twin
        // (q_dsir_select) stays pinned at the defaults and is untouched by
        // the session knobs. args: [k=500]
        val kSel = args.lift(1).map(_.toInt).getOrElse(500)
        val dS3 = graft.queries.Tables.t(spark, dir, "documents")
        def selected(b: Int, order: Int): Set[Long] = {
          spark.conf.set("graft.text.dsirBuckets", b.toString)
          spark.conf.set("graft.text.dsirNgram", order.toString)
          try graft.queries.TextPipeline
            .dsirSampleGumbel(dS3, col("lang") === "en", kSel, "sens")
            .select("doc_id").collect().map(_.getLong(0)).toSet
          finally {
            spark.conf.unset("graft.text.dsirBuckets")
            spark.conf.unset("graft.text.dsirNgram")
          }
        }
        def jac(a: Set[Long], bb: Set[Long]): Double =
          (a intersect bb).size.toDouble / (a union bb).size
        // [bList]: r15 stretch item 8 extends the sweep past 1024 to find
        // where adjacent-B overlap stabilizes (or record that B is a
        // genuine model choice)
        val bList = args.lift(2).map(_.split(",").map(_.toInt).toSeq)
          .getOrElse(Seq(64, 256, 1024))
        val configs3 = for {
          order <- Seq(2, 1); b <- bList
        } yield (b, order)
        val sels = configs3.map { case (b, o) =>
          val t0 = System.nanoTime()
          val s0 = selected(b, o)
          ((b, o), s0, (System.nanoTime() - t0) / 1e9)
        }
        val base = sels.head._2
        sels.foreach { case ((b, o), s0, secs) =>
          println(f"[prof] dsir_sens B=$b%-5d order=${if (o == 2) "uni+bi" else "uni"}%-6s " +
            f"k=$kSel%-5d ${secs}%6.2f s  overlap vs default ${jac(base, s0)}%.4f")
        }
        bList.sliding(2).filter(_.length == 2).foreach { case Seq(b1, b2) =>
          val s1 = sels.find(_._1 == ((b1, 2))).get._2
          val s2 = sels.find(_._1 == ((b2, 2))).get._2
          println(f"[prof] dsir_sens adjacent-B overlap $b1%d->$b2%d (uni+bi): " +
            f"${jac(s1, s2)}%.4f")
        }

      case "dsir_scale" =>
        // 100-TB-shape receipt for the DSIR selection core: run the
        // production arm (dsirSampleGumbel — histogram pass + plan-literal
        // scoring pass, zero corpus shuffles) over synthetic corpora at
        // n/10 and n docs and report wall time for each. Linear scaling
        // here is the design claim made in COVERAGE.md — two columnar
        // scans, a <= 64-group aggregate, a TakeOrdered cut. args: [nDocs]
        val nDs = args.lift(1).map(_.toInt).getOrElse(10000000)
        val wordsPerDocS = 40
        val vocabS = 50000
        def dsirCorpus(n: Int) = spark.range(n.toLong)
          .select(col("id").as("doc_id"),
            expr(s"""concat_ws(' ', transform(sequence(0, ${wordsPerDocS - 1}),
                 |  w -> concat('w', pmod(xxhash64(id, w), $vocabS))))"""
              .stripMargin).as("text"),
            expr("CASE WHEN pmod(xxhash64(id, 9090), 10) = 0 " +
              "THEN 'en' ELSE 'xx' END").as("lang"))
        Seq(nDs / 10, nDs).foreach { n =>
          val t0 = System.nanoTime()
          val res = graft.queries.TextPipeline.dsirSampleGumbel(
            dsirCorpus(n), col("lang") === "en", 25, "scale")
          val got = res.count()
          println(f"[prof] dsir_scale n=$n%-9d " +
            f"${(System.nanoTime() - t0) / 1e9}%8.2f s  selected=$got")
        }

      case "batch_phase" =>
        // phase attribution at a production shape on the batch_scale index
        // (must already exist — run batch_scale first): where does a
        // 212-query batch spend its wall time? Isolates (a) the thin
        // codes-only context scan, (b) the residual column full scan,
        // (c) the pool-shaped id-IN residual multiget, (d) phase-1-only
        // batch (secondPass=false), (e) the full batch.
        // args: [nDocs] [K] [codec]
        import graft.query._
        import spark.implicits._
        val dimP = 128
        val nDocsP = args.lift(1).map(_.toInt).getOrElse(10000000); val tpdP = 4
        val kP = args.lift(2).map(_.toInt).getOrElse(49152)
        val codecSuffixP = args.lift(3).map(c => s"_${c.toLowerCase}")
          .filter(_ != "_none").getOrElse("")
        val pathP = s"/root/repo/target/prof_batch_scale_${nDocsP}_$kP$codecSuffixP"
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(pathP, "_prof_ready")),
          s"run batch_scale $nDocsP $kP first to build the index")
        val idxP = graft.index.IndexIVF.open(spark, pathP)
        val fidP = idxP.mapper.id("colbert")
        val tokensExprP = expr(
          s"""transform(sequence(0, ${tpdP - 1}), t ->
             |  transform(sequence(0, ${dimP - 1}), d ->
             |    cast(pmod(xxhash64(id, t, d), 2000) / 1000.0 - 1.0 as float)))"""
            .stripMargin)
        val qPoolP = spark.range(nDocsP.toLong).select(col("id"),
          tokensExprP.as("colbert")).filter(col("id") < 212).orderBy("id").collect()
          .map(_.getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("colbert")
            .map(_.toArray).toArray)
        val queriesP = qPoolP.zipWithIndex
          .map { case (toks, i) => (i.toLong, toks.map(_.toSeq).toSeq) }.toSeq
          .toDF("query_id", "tokens")
        val optsP = SearchOptions(kTopCentroids = 4, nProbe = 32, numSecondPass = 64)
        BatchSearcher.searchBatch(idxP, 1, "colbert",
          queriesP.limit(8), k = 10, optsP).count()
        val ctxP = idxP.contextDf
          .filter(col("tenant") === 1 && col("field") === fidP)
        (1 to 2).foreach { i =>
          time(s"codes-only context scan #$i")(
            ctxP.agg(sum(size(col("doc_codes")))).collect())
        }
        (1 to 2).foreach { i =>
          time(s"residual-column full scan #$i")(
            ctxP.agg(sum(length(col("doc_residuals")))).collect())
        }
        // pool-shaped multiget mimic: 212 x 64 ids strided over the corpus
        // (the window cut's survivors are score-selected, i.e. effectively
        // random over doc ids — strided is the same density)
        val nIds = 212 * optsP.numSecondPass
        val idsP = Array.tabulate(nIds)(i =>
          (i.toLong * (nDocsP.toLong / nIds)) % nDocsP)
        val bucketsP = idsP.map(graft.index.IndexIVF.docBucketOf).distinct.toSeq
        (1 to 2).foreach { i =>
          time(s"id-IN residual multiget ($nIds ids) #$i")(
            ctxP.filter(col("doc_bucket").isin(bucketsP: _*) &&
                col("doc_id").isInCollection(idsP.toSeq))
              .agg(sum(length(col("doc_residuals")))).collect())
        }
        (1 to 2).foreach { i =>
          time(s"batch212 phase-1 only (secondPass=false) #$i")(
            BatchSearcher.searchBatch(idxP, 1, "colbert", queriesP,
              k = 10, optsP.copy(secondPass = false)).count())
        }
        (1 to 2).foreach { i =>
          time(s"batch212 full #$i")(
            BatchSearcher.searchBatch(idxP, 1, "colbert", queriesP,
              k = 10, optsP).count())
        }

      case "pq_quality" =>
        // success@5 on the 10k near-dup distractor corpus per PQ variant:
        // balanced (variance-balanced perm, the default) vs classic
        // (contiguous split). Shares one spec instance so bruteTop1 and the
        // corpus build once.
        val rq = new RetrievalQualitySpec
        val opts = graft.query.SearchOptions(kTopCentroids = 8, nProbe = 8)
        args.drop(1).headOption.getOrElse("balanced,classic").split(",").foreach {
          case v @ "balanced" =>
            spark.conf.set("graft.pq.balanced", "true")
            val s = time(s"pq success@5 [$v]")(
              rq.successAt5(graft.core.QuantizerKind.PRODUCT_ENCODER, opts))
            println(f"[prof] pq_quality $v%-10s success@5 = $s%.4f")
          case v @ "classic" =>
            spark.conf.set("graft.pq.balanced", "false")
            val s = time(s"pq success@5 [$v]")(
              rq.successAt5(graft.core.QuantizerKind.PRODUCT_ENCODER, opts))
            println(f"[prof] pq_quality $v%-10s success@5 = $s%.4f")
            spark.conf.set("graft.pq.balanced", "true")
          case v @ "binarizer" =>
            val s = time(s"success@5 [$v]")(
              rq.successAt5(graft.core.QuantizerKind.BINARIZER, opts))
            println(f"[prof] pq_quality $v%-10s success@5 = $s%.4f")
          case other => sys.error(s"unknown pq_quality variant $other")
        }
      case "topk_heap" =>
        // insert-path A/B for the TopKHeap membership dedup (r13 verdict
        // item 6): the O(1) open-addressed probe vs the old O(k) linear
        // ids-scan, on the adversarial ascending-score stream (every
        // insert qualifies -> max evictions) and on random arrival.
        // args: [k] [n]
        val kH = args.lift(1).map(_.toInt).getOrElse(1024)
        val nH = args.lift(2).map(_.toInt).getOrElse(1000000)
        val rndH = new scala.util.Random(17L)
        val idSpace = nH / 4 // ids repeat ~4x: the dedup path stays hot
        val base = Array.tabulate(nH) { _ =>
          val id = rndH.nextInt(idSpace).toLong
          (id, (id * 2654435761L % 1000003L).toDouble)
        }
        // the pre-r14 insert, verbatim: same heap, membership by scan
        final class LinearScanHeap(k: Int) {
          val h = new graft.functions.TopKHeap(k)
          def insert(d: Long, s: Double): Unit = {
            if (h.size == k && !h.ranksBefore(s, d, h.scores(0), h.ids(0))) return
            var i = 0
            while (i < h.size) { if (h.ids(i) == d) return; i += 1 }
            // delegate the structural insert (d is known absent, so the
            // set probe inside is a miss-then-add — counted against the
            // hash path, making the comparison conservative)
            h.insert(d, s)
          }
        }
        for (order <- Seq("ascending", "random")) {
          val stream =
            if (order == "ascending") base.sortBy(_._2) else base
          // warmup
          (1 to 2).foreach { _ =>
            val w = new graft.functions.TopKHeap(kH)
            stream.take(100000).foreach { case (d, s) => w.insert(d, s) }
          }
          (1 to 3).foreach { rep =>
            val h1 = new graft.functions.TopKHeap(kH)
            val t0 = System.nanoTime()
            stream.foreach { case (d, s) => h1.insert(d, s) }
            val t1 = System.nanoTime()
            val h2 = new LinearScanHeap(kH)
            stream.foreach { case (d, s) => h2.insert(d, s) }
            val t2 = System.nanoTime()
            val r1 = (0 until h1.size).map(i => (h1.ids(i), h1.scores(i))).sorted
            val r2 = (0 until h2.h.size).map(i => (h2.h.ids(i), h2.h.scores(i))).sorted
            require(r1 == r2, "heap variants diverged")
            println(f"[prof] topk_heap k=$kH n=$nH $order%-9s #$rep " +
              f"hashset ${(t1 - t0) / 1e6}%8.2f ms  linear ${(t2 - t1) / 1e6}%8.2f ms  " +
              f"speedup ${(t2 - t1).toDouble / (t1 - t0)}%5.2f x")
          }
        }

      case "jaccard" => profJaccard(spark, dir)
      case "jaccard_noaqe" =>
        // attribution experiment only: how much of the cold-pipeline wall
        // time is AQE exchange-materialization job boundaries vs compute
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        profJaccard(spark, dir)
      case "jaccard2" => profJaccard2(spark, dir)
      case "scale" => profScale(spark)
      case "batch" => profBatch(spark, dir)
      case name =>
        // repeat a SparkEntry query 3x
        (1 to 3).foreach { i =>
          time(s"$name #$i")(SparkEntry.queries(name)(spark, dir).count())
        }
    }
    spark.stop()
  }

  /** Scale-sensitivity measurement for COVERAGE.md: the dedup/ANN pipelines
    * on ScaleData synthetic corpora at 1x/2x/5x/10x (1x = 5000 docs ~ the
    * sf0.1 documents table). Prints a markdown table of seconds + result
    * rows per scale. */
  def profScale(spark: SparkSession): Unit = {
    val n1 = 5000
    val factors = Seq(1, 2, 5, 10)
    val dirs = factors.map { f =>
      val d = java.nio.file.Files.createTempDirectory(s"profscale_$f").toString
      ScaleData.writeCorpus(spark, d, n1 * f, n1 * f, chunk = n1)
      f -> d
    }
    // JIT/codegen warmup on a tiny corpus
    val w = java.nio.file.Files.createTempDirectory("profscale_w").toString
    ScaleData.writeCorpus(spark, w, 300, 300, chunk = 300)
    Seq("q_dedup_minhash", "q_neardup_jaccard", "q_dedup_simhash")
      .foreach(q => SparkEntry.queries(q)(spark, w).count())
    val (we, wc) = ScaleData.embWithCentroids(spark, w, 2)
    graft.queries.Similarity.neardupIvfPairs(we, wc, minCos = -1.0).count()

    def timed(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val rows = f
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    println("| pipeline | " + factors.map(f => s"${f}x s (rows)").mkString(" | ") + " |")
    println("|---|" + factors.map(_ => "---|").mkString)
    Seq("q_dedup_minhash", "q_neardup_jaccard", "q_dedup_simhash").foreach { q =>
      val cells = dirs.map { case (_, d) =>
        val (rows, t) = timed(SparkEntry.queries(q)(spark, d).count())
        f"$t%.2f ($rows)"
      }
      println(s"| $q | " + cells.mkString(" | ") + " |")
    }
    val cells = dirs.map { case (f, d) =>
      val (e, c) = ScaleData.embWithCentroids(spark, d, n1 * f / 150)
      val (rows, t) = timed(
        graft.queries.Similarity.neardupIvfPairs(e, c, minCos = -1.0).count())
      f"$t%.2f ($rows)"
    }
    println("| ivf_neardup (K=n/150) | " + cells.mkString(" | ") + " |")
  }

  /** Batch-search bend measurement for COVERAGE.md: ONE index build, then
    * batches of 212/512/1024 queries through BatchSearcher, reporting
    * amortized ms/query and the plan-constant matrix payload. */
  def profBatch(spark: SparkSession, dir: String): Unit = {
    import graft.core._
    import graft.index.IndexIVF
    import graft.query._
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val e = graft.queries.Tables.t(spark, dir, "embeddings")
    val docs = e.groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("toks"),
        count(lit(1)).as("n_vecs"))
      .select(col("label").cast("long").as("id"),
        expr("transform(toks, t -> t.embedding)").as("colbert"), col("n_vecs"))
      .persist()
    docs.count()
    val schema = GSchema(Seq(
      GField.colbert("colbert", dimensions = 64, numCentroids = 16,
        quantization = QuantizerKind.NONE, numIterations = 4, nbits = 2),
      GField(name = "n_vecs", dataType = GDataType.INTEGER.toString,
        roles = Seq(FieldRole.Stored.toString))))
    val path = java.nio.file.Files.createTempDirectory("prof_batch").toString
    val idx = IndexIVF.create(spark, path, schema)
    idx.train(docs)
    idx.add(1, docs)
    val pool = e.filter(col("vec_id") < 4096).orderBy("vec_id").collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    val n = pool.length
    def batch(size: Int) = (0 until size).map { i =>
      (i.toLong, (0 until 4).map(j => pool((i * 4 + j) % n).toSeq))
    }.toDF("query_id", "tokens")
    // warmup pass so the first measured batch isn't paying codegen
    BatchSearcher.searchBatch(idx, 1, "colbert", batch(32), k = 3,
      SearchOptions(kTopCentroids = 4, nProbe = 8)).count()
    Seq(212, 512, 1024).foreach { size =>
      val q = batch(size)
      val t0 = System.nanoTime()
      val rows = BatchSearcher.searchBatch(idx, 1, "colbert", q, k = 3,
        SearchOptions(kTopCentroids = 4, nProbe = 8)).count()
      val ms = (System.nanoTime() - t0) / 1e6
      val matBytes = size * 4L * 16 * 4 // batch x nq x nc x 4B
      println(f"[prof] batch=$size%5d  ${ms / size}%6.2f ms/query  " +
        f"${ms / 1000}%6.2f s total  $rows%6d rows  matrices=${matBytes / 1024} KiB")
    }
  }

  /** Mirrors the round-4 minhash pipeline stage by stage. */
  def profMinhash(spark: SparkSession, dir: String): Unit = {
    val d0 = graft.queries.Tables.t(spark, dir, "documents")
    val d = if (d0.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
      d0.repartition(spark.sparkContext.defaultParallelism) else d0
    val arrs = d.select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(0, size(t) - 3), i -> xxhash64(concat_ws(' ', slice(t, i + 1, 3))))"))
        .as("shs"))
      .persist()
    time("arrs build+persist")(arrs.count())
    val sh = arrs.select(col("doc_id"), explode(col("shs")).as("sh"))
    val sigCols = (0 until 16).map(i =>
      array_min(transform(col("shs"), x => xxhash64(lit(i), x))).as(s"h$i"))
    val sigs = arrs.select(col("doc_id") +: sigCols :+
      size(col("shs")).cast("long").as("cnt"): _*).persist()
    time("sigs project+persist")(sigs.count())
    val bands = sigs.select(col("doc_id"),
      posexplode(array((0 until 8).map(b =>
        xxhash64(col(s"h${2 * b}"), col(s"h${2 * b + 1}"))): _*)).as(Seq("band", "bucket")))
    val hotB = bands.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bc")).filter(col("bc") > 128)
      .select(col("band"), col("bucket"))
    val pruned = bands.join(broadcast(hotB), Seq("band", "bucket"), "left_anti").persist()
    time("pruned build+persist")(pruned.count())
    val candPairs = pruned.as("x").join(pruned.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    time("band self-join distinct")(candPairs.count())
    val common = candPairs
      .join(sh.select(col("doc_id").as("a_id"), col("sh")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("sh")), Seq("b_id", "sh"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("common"))
    time("verify re-join")(common.count())
  }

  /** Bench-shaped jaccard run: q_dedup_minhash first (warms the shared
    * shingle-array cache, as the name-sorted bench does), then the jaccard
    * query with per-job timing. */
  def profJaccard(spark: SparkSession, dir: String): Unit = {
    val starts = scala.collection.concurrent.TrieMap[Int, Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val sites = scala.collection.concurrent.TrieMap[Int, String]()
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        starts(js.jobId) = js.time
        sites(js.jobId) = js.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | ")
        ()
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val dur = (je.time - starts.getOrElse(je.jobId, je.time)) / 1e3
        println(f"[prof]   job ${je.jobId}%3d ${dur}%7.3f s  ${sites.getOrElse(je.jobId, "?")}")
      }
    })
    time("q_dedup_minhash (bench warm)")(
      SparkEntry.queries("q_dedup_minhash")(spark, dir).count())
    time("q_neardup_jaccard #1")(
      SparkEntry.queries("q_neardup_jaccard")(spark, dir).count())
    time("q_neardup_jaccard #2")(
      SparkEntry.queries("q_neardup_jaccard")(spark, dir).count())
  }

  /** Mirrors jaccardPairs stage by stage (arrs warm, like the bench). */
  def profJaccard2(spark: SparkSession, dir: String): Unit = {
    val d0 = graft.queries.Tables.t(spark, dir, "documents")
    val d = if (d0.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
      d0.repartition(spark.sparkContext.defaultParallelism) else d0
    val arrs = d.select(col("doc_id"),
      graft.functions.TextHash.hashedShingles3(col("text")).as("shs"))
      .filter(col("shs").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    time("arrs build+persist")(arrs.count())
    val shAll = arrs.select(col("doc_id"), explode(col("shs")).as("sh"))
    val hot = shAll.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 128).select("sh")
    val sh = shAll.join(broadcast(hot), Seq("sh"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    time("sh cache (hot agg + anti)")(sh.count())
    val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    time("counts cache")(n.count())
    val common = sh.as("x").join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .agg(count(lit(1)).as("common"))
    time("self-join + pair agg")(common.count())
    val full = common
      .join(n.as("na"), col("a_id") === col("na.doc_id"))
      .join(n.as("nb"), col("b_id") === col("nb.doc_id"))
      .select(col("a_id"), col("b_id"),
        (col("common") * lit(1.0) / (col("na.c") + col("nb.c") - col("common")))
          .as("j"))
      .filter(col("j") >= 0.8).orderBy("a_id", "b_id")
    time("full (joins+filter+sort)")(full.count())
    time("full again")(full.count())
  }

  def profEngine(spark: SparkSession, dir: String): Unit = {
    import graft.core._
    import graft.index.IndexIVF
    import graft.query._
    val starts = scala.collection.concurrent.TrieMap[Int, Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val sites = scala.collection.concurrent.TrieMap[Int, String]()
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        starts(js.jobId) = js.time
        sites(js.jobId) = js.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | ")
        ()
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val dur = (je.time - starts.getOrElse(je.jobId, je.time)) / 1e3
        println(f"[prof]   job ${je.jobId}%3d ${dur}%7.3f s  ${sites.getOrElse(je.jobId, "?")}")
      }
    })
    val e = graft.queries.Tables.t(spark, dir, "embeddings")
    val docs = time("build docs df") {
      val d = e.groupBy(col("label"))
        .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("toks"),
          count(lit(1)).as("n_vecs"))
        .select(col("label").cast("long").as("id"),
          expr("transform(toks, t -> t.embedding)").as("colbert"),
          col("n_vecs"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }
    val schema = GSchema(Seq(
      GField.colbert("colbert", dimensions = 64, numCentroids = 16,
        quantization = QuantizerKind.NONE, numIterations = 4, nbits = 2),
      GField(name = "n_vecs", dataType = GDataType.INTEGER.toString,
        roles = Seq(FieldRole.Stored.toString))))
    val path = java.nio.file.Files.createTempDirectory("prof_engine").toString
    val idx = IndexIVF.create(spark, path, schema)
    time("train")(idx.train(docs))
    time("add")(idx.add(1, docs))
    val query = time("query collect") {
      e.filter(col("vec_id") < 4).orderBy("vec_id").collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    }
    val res = time("search")(
      idx.search(1, VectorQuery("colbert", query), k = 5,
        SearchOptions(kTopCentroids = 4, nProbe = 8)))
    time("search collect")(res.collect())
  }
}
