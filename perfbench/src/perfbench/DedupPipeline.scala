package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The four dedup operators run in sequence over a generated text corpus,
  * one pass after another. The control workload: index and query changes
  * should show no effect here. */
object DedupPipeline extends Workload {
  val name = "dedup_pipeline"
  val why = "q_dedup_exact, q_dedup_minhash, q_dedup_simhash, q_neardup_jaccard on a text corpus " +
    "with planted near-dups, exact-dup clusters and hot buckets: TextPipeline exchanges and aggregates"
  val nearIdle = Seq("graft.index", "graft.query BatchSearcher", "graft.query Searcher",
    "graft.quantizers")

  val NumDocs = 3000L
  val Operators: Seq[(String, String)] = Seq("exact" -> "q_dedup_exact",
    "minhash" -> "q_dedup_minhash", "simhash" -> "q_dedup_simhash", "jaccard" -> "q_neardup_jaccard")
  val RegistrationReps = 3
  /** A pass keeps getting faster for ten or more passes (one run: 11.2,
    * 4.8, 3.8, 3.7, 3.1, 2.9, 2.9, 2.7, 2.7, 2.4, 2.4, 2.2 s). Steady state
    * is out of reach in a run of the benchmark's length, so every run discards
    * the same number of passes and times the same stretch of that curve. */
  val WarmupPasses = 5
  /** LSH recall at shingle Jaccard 0.9 with 8 bands x 4 rows is 1-(1-0.9^4)^8 > 0.999. */
  val MinMinhashRecall = 0.99
  /** q_dedup_simhash's default geometry: 8 bands of 8 bits, Hamming distance <= 8. */
  val SimhashBandBits = 8
  val SimhashMaxHamming = 8

  def generate(spark: SparkSession, seed: Long, dir: String): Unit =
    Gen.writeTexts(spark, seed, NumDocs, s"$dir/documents.parquet", files = 4)

  /** What one operator returned: rows, planted hits, an order-free digest. */
  final case class Out(rows: Long, planted: Long, digest: Long)

  private def summarize(op: String, rows: Seq[Seq[Any]]): Out = {
    def long(v: Any) = v.asInstanceOf[Number].longValue
    val planted =
      if (op == "exact") rows.count(r => long(r(1)) == Gen.DupCluster).toLong
      else rows.count(r => Gen.isPlantedPair(long(r(0)), long(r(1)))).toLong
    Out(rows.length, planted, rows.iterator.map(_.mkString(",").hashCode.toLong).sum)
  }

  /** 64-bit SimHash of a text: a per-bit majority vote over the splitmix64
    * hashes of its space-separated words' UTF-8 bytes. */
  def simhash(text: String): Long = {
    val votes = new Array[Int](64)
    text.split(" ", -1).foreach { w =>
      var h = 0L
      w.getBytes("UTF-8").foreach { byte =>
        var z = (h ^ byte) + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        h = z ^ (z >>> 31)
      }
      (0 until 64).foreach(b => votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1))
    }
    (0 until 64).foldLeft(0L)((sig, b) => if (votes(b) >= 0) sig | (1L << b) else sig)
  }

  /** q_dedup_simhash's rows worked out on the driver by comparing every pair:
    * (a, b, hamming) for a < b whose signatures agree on one whole band and
    * differ in at most SimhashMaxHamming bits. */
  def simhashReference(texts: Seq[(Long, String)]): Seq[Seq[Any]] = {
    val sigs = texts.sortBy(_._1).map { case (id, t) => (id, simhash(t)) }.toArray
    val mask = (1L << SimhashBandBits) - 1
    for {
      i <- sigs.indices
      j <- i + 1 until sigs.length
      ((a, x), (b, y)) = (sigs(i), sigs(j))
      z = x ^ y
      if java.lang.Long.bitCount(z) <= SimhashMaxHamming &&
        (0 until 64 / SimhashBandBits).exists(band => ((z >>> (band * SimhashBandBits)) & mask) == 0)
    } yield Seq(a, b, java.lang.Long.bitCount(z))
  }

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val (spark, tr, rep) = (ctx.spark, ctx.tracer, ctx.report)
    val regS = (1 to RegistrationReps).map { _ =>
      val t0 = System.nanoTime()
      spark.read.parquet(s"${ctx.inputs}/documents.parquet").schema
      (System.nanoTime() - t0) / 1e9
    }
    val setup = sessionS + Stats.median(regS)

    val planted = Gen.plantedPairs(NumDocs)
    val chunks = (NumDocs + Gen.Chunk - 1) / Gen.Chunk
    val simhashExpected = summarize("simhash", simhashReference(
      spark.read.parquet(s"${ctx.inputs}/documents.parquet").select("doc_id", "text").collect()
        .toSeq.map(r => (r.getLong(0), r.getString(1)))))
    var first: Map[String, Out] = null
    val outs = scala.collection.mutable.Map[String, Out]()

    def check(op: String, o: Out): Option[String] =
      if (first != null && first(op) != o)
        Some(s"$op returned ${o.rows} rows / ${o.planted} planted, first pass ${first(op).rows} / " +
          s"${first(op).planted}")
      else op match {
        case "exact" if o.rows != Gen.exactGroups(NumDocs) || o.planted != chunks =>
          Some(s"exact: ${o.rows} groups (${o.planted} clusters), expected " +
            s"${Gen.exactGroups(NumDocs)} ($chunks)")
        // both caps (128) are below an exact-dup cluster's 150 copies, so
        // the clusters' shingles and buckets are dropped, and no unplanted
        // pair reaches Jaccard 0.5: jaccard and minhash emit planted pairs only
        case "jaccard" if o.planted != planted || o.rows != planted =>
          Some(s"jaccard returned ${o.rows} rows with ${o.planted} of $planted planted pairs")
        case "minhash" if o.planted < MinMinhashRecall * planted || o.rows != o.planted =>
          Some(s"minhash returned ${o.rows} rows with ${o.planted} of $planted planted pairs")
        case "simhash" if o != simhashExpected =>
          Some(s"simhash returned ${o.rows} rows / ${o.planted} planted, expected " +
            s"${simhashExpected.rows} / ${simhashExpected.planted} from the pairwise reference")
        case _ => None
      }

    /** One pass of the four operators: each one's call + collect time (the
      * checks are not timed), None for an operator that threw. */
    def pass(): Seq[Option[Double]] = {
      val ms = tr.span("op.dedup_pass") {
        Operators.map { case (op, q) =>
          ctx.op(op)(tr.span(s"pipeline.$op")(SparkEntry.queries(q)(spark, ctx.inputs).collect())) {
            rows =>
              val o = summarize(op, rows.toSeq.map(_.toSeq))
              outs(op) = o
              check(op, o)
          }.map(_._2)
        }
      }
      if (first == null && outs.size == Operators.size) first = outs.toMap
      ms
    }
    def total(ms: Seq[Option[Double]]): Option[Double] =
      if (ms.forall(_.isDefined)) Some(ms.flatten.sum) else None

    tr.active = false
    val warm = ctx.phase("warm-up")(Vector.fill(WarmupPasses)(total(pass()).getOrElse(Double.NaN)))
    rep.notes += s"warm-up discarded ${warm.size} passes (${4 * warm.size} ops); pass ms: " +
      warm.map(v => f"$v%.0f").mkString(", ")

    val passes, tracedP, untracedP = Vector.newBuilder[Double]
    /** Each operator's call + collect times in the timed loop. */
    val opMs = Operators.map(_._1 -> Vector.newBuilder[Double]).toMap
    System.gc()
    val t0 = System.nanoTime()
    ctx.timedLoop { n =>
      tr.active = ctx.traced && n % 2 == 1
      val ms = pass()
      Operators.zip(ms).foreach { case ((op, _), t) => t.foreach(opMs(op) += _) }
      total(ms).foreach { t => passes += t; (if (tr.active) tracedP else untracedP) += t }
    }
    rep.phases += "timed loop" -> (System.nanoTime() - t0) / 1e9
    tr.active = ctx.traced

    val ps = passes.result()
    val recall = if (first == null) 0.0
      else math.min(first("minhash").planted, first("jaccard").planted).toDouble / planted
    rep.named("setup_s") = (setup, "s")
    rep.named("dedup_docs_per_s") = (NumDocs / (Stats.median(ps) / 1000), "docs/s")
    rep.named("dedup_recall") = (recall, "fraction")
    // each operator's median call; an operator that never succeeded failed the run
    val opMedians = Operators.map { case (op, _) =>
      op -> Some(opMs(op).result()).filter(_.nonEmpty).fold(Double.NaN)(Stats.median)
    }
    rep.notes += s"timed ${ps.size} passes; pass ms: " + ps.map(v => f"$v%.0f").mkString(", ") +
      "; operator ms medians: " + opMedians.map { case (op, ms) => f"$op $ms%.0f" }.mkString(", ")
    rep.notes += s"$planted planted pairs; " + Operators.map { case (op, _) =>
      outs.get(op).fold(s"$op: failed")(o => s"$op: ${o.rows} rows, ${o.planted} planted")
    }.mkString("; ")
    rep.endToEnd("setup_s") = (setup, "s")
    rep.endToEnd("op_ms_p50") = (Stats.median(ps), "ms")
    // operator calls per second in a pass made of each operator's median
    // call: a slow call or pass moves it no more than it moves a median
    rep.endToEnd("ops_per_s") = (Operators.size / (opMedians.map(_._2).sum / 1000), "1/s")
    rep.endToEnd("quality") = (recall, "fraction")

    if (ctx.traced) {
      outs.foreach { case (op, o) =>
        rep.layers(s"pipeline.$op.output_rows") = (o.rows.toDouble, "count")
        rep.layers(s"pipeline.$op.planted_hits") = (o.planted.toDouble, "count")
      }
      rep.layers("trace.overhead_pct") =
        (Layers.overheadPct(tracedP.result(), untracedP.result()), "%")
    }
  }
}
