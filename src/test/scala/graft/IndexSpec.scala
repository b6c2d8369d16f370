package graft

import graft.core._
import graft.index.IndexIVF
import graft.query._
import org.apache.spark.graftbridge.ListenerBusAccess
import org.scalatest.funsuite.AnyFunSuite

case class Doc(id: Long, colbert: Seq[Seq[Float]], cat: String, num: Long)

case class DocF16(id: Long, colbert: Seq[Seq[Float]], score16: Float)

/** Parameterized E2E index tests: train -> add -> search -> filter -> load
  * -> remove -> merge, over QuantizerKind NONE and BINARIZER — the port of
  * the reference's tests/index_test.cpp:103-409 (SURVEY §5). */
class IndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val dim = 16
  val numDocs = 20
  val tokensPerDoc = 5
  val rnd = new scala.util.Random(42)
  // fixed corpus: zero-centered random token embeddings (ColBERT embeddings
  // are zero-centered unit vectors; the binarizer encodes RAW vectors with
  // residual-trained quantiles — all-positive data would collapse to one
  // bucket, matching reference behavior but useless as a ranking fixture)
  val corpus: Map[Long, Seq[Seq[Float]]] = (0L until numDocs.toLong).map { i =>
    i -> Seq.fill(tokensPerDoc)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
  }.toMap

  def docsDf = {
    import spark.implicits._
    corpus.toSeq.sortBy(_._1).map { case (i, toks) =>
      Doc(i, toks, if (i % 2 == 0) "even" else "odd", i % 3)
    }.toDF()
  }

  def mkSchema(quant: QuantizerKind.Value) = GSchema(Seq(
    GField.colbert("colbert", dim, numCentroids = 8,
      quantization = quant, numIterations = 4, nbits = 2, numSubquantizers = 4),
    GField(name = "cat", dataType = GDataType.TEXT.toString,
      roles = Seq(FieldRole.Indexed.toString, FieldRole.Stored.toString)),
    GField.indexed("num", GDataType.INTEGER)))

  def freshIndex(quant: QuantizerKind.Value): IndexIVF = {
    val path = java.nio.file.Files.createTempDirectory(s"idx_$quant").toString
    val idx = IndexIVF.create(spark, path, mkSchema(quant))
    idx.train(docsDf)
    idx.add(tenant = 1, docsDf)
    idx
  }

  // exhaustive search options: probe everything, no pool cut
  val exhaustive = SearchOptions(kTopCentroids = 8, nProbe = 8)

  def query(docId: Long) = VectorQuery("colbert",
    corpus(docId).map(_.toArray).toArray)

  /** driver-side naive MaxSim over the raw corpus (normalized doc tokens) —
    * ground truth for NONE quantization. */
  def bruteForce(q: Array[Array[Float]]): Seq[(Long, Float)] =
    corpus.toSeq.map { case (id, toks) =>
      val score = q.map { qt =>
        val best = toks.map { t =>
          val norm = math.sqrt(t.map(x => x * x).sum).toFloat
          t.zip(qt).map { case (a, b) => a * b }.sum / norm
        }.max
        math.max(best, 0f)
      }.sum
      (id, score)
    }.sortBy { case (id, s) => (-s, id) }

  test("NONE: search matches driver-side brute-force MaxSim ranking") {
    val idx = freshIndex(QuantizerKind.NONE)
    val got = idx.search(1, query(7), k = 5, exhaustive)
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val expected = bruteForce(query(7).queryTokens).take(5)
    assert(got.map(_._1).toSeq == expected.map(_._1))
    got.zip(expected).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-4, s"score mismatch: $g vs $e")
    }
    // self-match: doc 7 must rank first
    assert(got.head._1 == 7L)
  }

  test("NONE: a WIDE query (nq past the SIMD lane gate) matches brute force " +
      "end to end") {
    // 5 docs' tokens concatenated = 25 query tokens — past any preferred
    // species width (16 lanes on AVX-512), so the e2e search exercises the
    // computeDotAutoLRange SIMD branch, not just the parity spec's direct calls
    val wide = (0L until 5L).flatMap(d => corpus(d)).map(_.toArray).toArray
    assert(wide.length >= 16)
    val idx = freshIndex(QuantizerKind.NONE)
    val got = idx.search(1, VectorQuery("colbert", wide), k = 5, exhaustive)
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val expected = bruteForce(wide).take(5)
    assert(got.map(_._1).toSeq == expected.map(_._1))
    got.zip(expected).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-4, s"score mismatch: $g vs $e")
    }
  }

  test("BINARIZER: self-match still ranks first through the lossy codec") {
    val idx = freshIndex(QuantizerKind.BINARIZER)
    val got = idx.search(1, query(7), k = 5, exhaustive)
      .select("doc_id").collect().map(_.getLong(0))
    assert(got.nonEmpty)
    assert(got.head == 7L)
  }

  test("PRODUCT_ENCODER: self-match still ranks first through PQ codes") {
    val idx = freshIndex(QuantizerKind.PRODUCT_ENCODER)
    val got = idx.search(1, query(7), k = 5, exhaustive)
      .select("doc_id").collect().map(_.getLong(0))
    assert(got.nonEmpty)
    assert(got.head == 7L)
  }

  test("And(vector, term) restricts results and sums filter score") {
    val idx = freshIndex(QuantizerKind.NONE)
    val q = AndQuery(Seq(query(7), TermQuery("cat", "odd")))
    val rows = idx.search(1, q, k = 20, exhaustive.copy(secondPass = false))
      .select("doc_id", "score").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 2 == 1), "only odd docs should match")
    // filter child contributes +1.0 over the pure vector score (SURVEY §7.5.7)
    val pure = idx.search(1, query(7), k = 20, exhaustive.copy(secondPass = false))
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - (pure(r.getLong(0)) + 1.0)) < 1e-4)
    }
  }

  test("Term on absent value returns empty (index_test.cpp filter case)") {
    val idx = freshIndex(QuantizerKind.NONE)
    val q = AndQuery(Seq(query(7), TermQuery("cat", "missing")))
    assert(idx.search(1, q, 10, exhaustive).count() == 0)
  }

  test("Or(vector, term): term-only matches rerank to 0.0 (missing context)") {
    val idx = freshIndex(QuantizerKind.NONE)
    // restrict the vector side to few probes so some "odd" docs are
    // term-only matches, then rerank: those must score 0.0 like the
    // reference's ColBERTScorer on missing colbert context
    val narrow = SearchOptions(kTopCentroids = 1, nProbe = 1)
    val vecDocs = idx.search(1, query(7), 20, narrow.copy(secondPass = false))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = idx.search(1, OrQuery(Seq(query(7), TermQuery("cat", "odd"))), 20, narrow)
      .select("doc_id", "score").collect()
    val termOnly = rows.filter(r => !vecDocs.contains(r.getLong(0)))
    assert(termOnly.nonEmpty, "fixture should produce term-only matches")
    termOnly.foreach(r => assert(r.getDouble(1) == 0.0))
  }

  test("Or of two vector leaves on one field: docs matched by EITHER leaf rerank exactly") {
    val idx = freshIndex(QuantizerKind.NONE)
    // two narrow vector leaves on the SAME colbert field, probing different
    // centroids: a doc matched only by the SECOND leaf still carries its
    // context in the iterator semantics and must get the exact phase-2
    // score, not the 0.0 of a missing-context doc (the old marker plumbing
    // kept only the FIRST leaf's vec_match and zeroed the rest)
    val narrow = SearchOptions(kTopCentroids = 1, nProbe = 1)
    val aDocs = idx.search(1, query(7), 20, narrow.copy(secondPass = false))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // find a second query whose candidate set contains a doc leaf A misses
    val qbId = (0L until numDocs.toLong).find { d =>
      val bDocs = idx.search(1, query(d), 20, narrow.copy(secondPass = false))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      (bDocs -- aDocs).nonEmpty
    }
    assert(qbId.nonEmpty, "fixture should yield a leaf-B-only match")
    val rows = idx.search(1, OrQuery(Seq(query(7), query(qbId.get))), 20, narrow)
      .select("doc_id", "score").collect()
    // every result doc matched a vector leaf of the rerank field, so every
    // score must equal the exact MaxSim of the RERANK leaf's query (leaf A,
    // the first) against that doc — none may collapse to the 0.0 sentinel
    val exactA = bruteForce(query(7).queryTokens).toMap
    val bOnly = rows.filter(r => !aDocs.contains(r.getLong(0)))
    assert(bOnly.nonEmpty, "fixture should produce leaf-B-only result rows")
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - exactA(r.getLong(0))) < 1e-4,
        s"doc ${r.getLong(0)} lost its context through the OR marker")
    }
  }

  test("Term-only and Or queries work without a vector node") {
    val idx = freshIndex(QuantizerKind.NONE)
    val evens = idx.search(1, TermQuery("cat", "even"), 20, exhaustive)
    assert(evens.count() == numDocs / 2)
    val or = idx.search(1,
      OrQuery(Seq(TermQuery("num", 0L), TermQuery("num", 1L))), 20, exhaustive)
    assert(or.count() == corpus.keys.count(i => i % 3 == 0 || i % 3 == 1))
  }

  test("Range query (superset) selects numeric band") {
    val idx = freshIndex(QuantizerKind.NONE)
    val got = idx.search(1, RangeQuery("num", 1.0, 2.0), 50, exhaustive)
    assert(got.count() == corpus.keys.count(i => i % 3 >= 1))
  }

  test("stored fields are hydrated in results") {
    val idx = freshIndex(QuantizerKind.NONE)
    val rows = idx.search(1, query(4), 3, exhaustive).collect()
    assert(rows.head.schema.fieldNames.contains("cat"))
    val top = rows.head
    assert(top.getString(top.fieldIndex("cat"))
      == (if (top.getLong(top.fieldIndex("doc_id")) % 2 == 0) "even" else "odd"))
  }

  test("fresh index (no adds yet) searches/removes/merges without crashing") {
    val path = java.nio.file.Files.createTempDirectory("idx_fresh").toString
    val idx = IndexIVF.create(spark, path, mkSchema(QuantizerKind.NONE))
    idx.train(docsDf) // trained but empty: no data files exist yet
    assert(idx.search(1, query(0), 10, exhaustive).count() == 0)
    assert(idx.search(1, TermQuery("cat", "even"), 10, exhaustive).count() == 0)
    idx.remove(1, Seq(1L, 2L)) // no-op, must not throw
    val other = freshIndex(QuantizerKind.NONE)
    other.merge(idx.path) // merging an empty index is a no-op
    assert(other.search(1, query(7), 5, exhaustive).count() == 5)
  }

  test("tenant isolation: other tenants see nothing") {
    val idx = freshIndex(QuantizerKind.NONE)
    assert(idx.search(2, query(0), 10, exhaustive).count() == 0)
  }

  test("open() reloads schema + models and searches identically") {
    val idx = freshIndex(QuantizerKind.NONE)
    idx.save()
    val reopened = IndexIVF.open(spark, idx.path)
    val a = idx.search(1, query(3), 5, exhaustive).select("doc_id").collect().map(_.getLong(0)).toSeq
    val b = reopened.search(1, query(3), 5, exhaustive).select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("remove deletes docs; re-add restores them (index.cpp:492-510)") {
    val idx = freshIndex(QuantizerKind.NONE)
    idx.remove(1, Seq(7L, 8L))
    val got = idx.search(1, query(7), 20, exhaustive).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!got.contains(7L) && !got.contains(8L))
    assert(got.nonEmpty)
    // re-add just doc 7
    import spark.implicits._
    idx.add(1, Seq(Doc(7L, corpus(7L), "odd", 1L)).toDF())
    val back = idx.search(1, query(7), 20, exhaustive).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(back.contains(7L) && !back.contains(8L))
  }

  test("duplicate add keeps doc searchable exactly once in results") {
    val idx = freshIndex(QuantizerKind.NONE)
    idx.add(1, docsDf) // add everything twice
    val got = idx.search(1, query(7), 20, exhaustive).select("doc_id")
      .collect().map(_.getLong(0))
    assert(got.length == got.distinct.length, "query-time dedup by doc_id")
  }

  test("scalar types: DATETIME and FLOAT terms hit the canonical key encodings") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("idx_scalar").toString
    val schema = GSchema(Seq(
      GField.indexed("created", GDataType.DATETIME),
      GField.indexed("weight", GDataType.FLOAT)))
    val idx = IndexIVF.create(spark, path, schema)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:30:00")
    val t1 = java.sql.Timestamp.valueOf("2024-06-15 08:00:00")
    val docs = Seq((0L, t0, 1.5f), (1L, t1, 2.5f), (2L, t0, 2.5f))
      .toDF("id", "created", "weight")
    idx.add(1, docs)
    // DATETIME equality via epoch-millis canonical key (KeyBuilder parity)
    val byTime = idx.search(1, TermQuery("created", t0), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byTime == Set(0L, 2L))
    // FLOAT equality + numeric range
    val byWeight = idx.search(1, TermQuery("weight", 2.5f), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byWeight == Set(1L, 2L))
    val byRange = idx.search(1, RangeQuery("weight", 2.0, 3.0), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byRange == Set(1L, 2L))
    // DATETIME range over epoch millis
    val timeRange = idx.search(1,
      RangeQuery("created", t0.getTime.toDouble - 1, t0.getTime.toDouble + 1), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(timeRange == Set(0L, 2L))
  }

  test("DATETIME schemas refuse a non-UTC session timezone at create/open") {
    val schema = GSchema(Seq(GField.indexed("created", GDataType.DATETIME)))
    val path = java.nio.file.Files.createTempDirectory("idx_tz").toString
    IndexIVF.create(spark, path, schema) // UTC session (TestSpark pins it): ok
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val e1 = intercept[IllegalArgumentException](
        IndexIVF.create(spark,
          java.nio.file.Files.createTempDirectory("idx_tz2").toString, schema))
      assert(e1.getMessage.contains("timeZone"))
      val e2 = intercept[IllegalArgumentException](IndexIVF.open(spark, path))
      assert(e2.getMessage.contains("timeZone"))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    // non-DATETIME schemas are timezone-agnostic and must not be gated
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try IndexIVF.create(spark,
      java.nio.file.Files.createTempDirectory("idx_tz3").toString,
      GSchema(Seq(GField.indexed("n", GDataType.INTEGER))))
    finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("phase-2 rerank collect is byte-bounded at plan time (fat-config guard)") {
    val idx = freshIndex(QuantizerKind.NONE)
    spark.conf.set(graft.query.Searcher.MaxRerankBytesKey, "64")
    try {
      val e = intercept[IllegalArgumentException](
        idx.search(1, query(3), k = 5, exhaustive).collect())
      assert(e.getMessage.contains("quantized codec"),
        s"guard message should name the remedies: ${e.getMessage}")
    } finally spark.conf.unset(graft.query.Searcher.MaxRerankBytesKey)
    // honest estimate: telling the guard the corpus' REAL document length
    // (5 tokens here) admits the same search under a tight-but-true budget
    spark.conf.set(graft.query.Searcher.AssumedDocTokensKey, tokensPerDoc.toString)
    try assert(idx.search(1, query(3), k = 5, exhaustive).count() == 5)
    finally spark.conf.unset(graft.query.Searcher.AssumedDocTokensKey)
  }

  test("Context-only TENSOR fields land in the context table (DocProcessor.cpp:72-101)") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("idx_ctx").toString
    val schema = GSchema(Seq(
      GField(name = "emb", dataType = GDataType.TENSOR.toString,
        roles = Seq(FieldRole.Context.toString),
        parameters = FieldParameters(dimensions = 4))))
    val idx = IndexIVF.create(spark, path, schema)
    val docs = Seq((1L, Seq(Seq(1f, 2f, 3f, 4f), Seq(5f, 6f, 7f, 8f))))
      .toDF("id", "emb")
    idx.add(1, docs) // no training needed: context-only fields have no postings
    val ctx = idx.contextDf.collect()
    assert(ctx.length == 1)
    val row = ctx.head
    assert(row.getAs[scala.collection.Seq[Long]]("doc_codes").isEmpty)
    val residuals = row.getAs[Array[Byte]]("doc_residuals")
    assert(residuals.length == 2 * 4 * 4) // 2 tokens x dim 4 x float32
    val q = graft.quantizers.IdentityQuantizer(4)
    assert(q.decode(residuals.slice(0, 16)).toSeq == Seq(1f, 2f, 3f, 4f))
    assert(q.decode(residuals.slice(16, 32)).toSeq == Seq(5f, 6f, 7f, 8f))
  }

  test("removeDeferred tombstones hide docs from every read; compact applies them physically") {
    import spark.implicits._
    val idx = freshIndex(QuantizerKind.NONE)
    idx.removeDeferred(1, Seq(3L, 4L))
    // all reads pass the live() funnel: the docs are gone everywhere
    assert(!idx.postingsDf.select("doc_id").collect().map(_.getLong(0)).toSet.contains(3L))
    val got = idx.search(1, query(7), numDocs, exhaustive)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!got.contains(3L) && !got.contains(4L) && got.contains(7L))
    assert(idx.tombstonesDf.count() == 2)
    // compaction rewrites the tables and clears the tombstones
    idx.compact()
    assert(idx.tombstonesDf.count() == 0)
    val after = idx.search(1, query(7), numDocs, exhaustive)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after == got, "compaction preserves query results")
    // a re-add after compact() is visible again (the documented caveat is
    // only about re-adding BEFORE compaction)
    idx.add(1, Seq(Doc(3L, corpus(3L), "odd", 0L)).toDF())
    val readded = idx.search(1, query(3), numDocs, exhaustive)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(readded.contains(3L))
  }

  test("removeDeferred -> re-add -> compact keeps the re-added doc (epoch-stamped tombstones)") {
    import spark.implicits._
    val idx = freshIndex(QuantizerKind.NONE)
    // the exact round-7 data-loss sequence: defer-delete two docs, then
    // re-ingest one of them BEFORE compaction (what a bulk pipeline does)
    idx.removeDeferred(1, Seq(3L, 4L))
    idx.add(1, Seq(Doc(3L, corpus(3L), "odd", 0L)).toDF())
    // pending tombstone + later re-add: live() must show the new rows NOW
    val pre = idx.search(1, query(3), numDocs, exhaustive)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pre.contains(3L), "re-added doc visible while its tombstone is pending")
    assert(!pre.contains(4L), "doc without a re-add stays hidden")
    // compaction kills only rows at or before the tombstone's epoch
    idx.compact()
    assert(idx.tombstonesDf.count() == 0)
    val post = idx.search(1, query(3), numDocs, exhaustive)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(post.contains(3L), "compact() preserved the re-added doc's rows")
    assert(!post.contains(4L), "compact() applied the un-superseded delete")
    // every table kept exactly the re-added rows (not stale pre-delete ones)
    assert(idx.docsDf.filter("tenant = 1 AND doc_id = 3").count() == 1)
    assert(idx.contextDf.filter("tenant = 1 AND doc_id = 3").count() == 1)
    // and a PHYSICAL remove still kills the doc across all epochs
    idx.remove(1, Seq(3L))
    val gone = idx.search(1, query(3), numDocs, exhaustive)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!gone.contains(3L))
  }

  test("small-add clamp observes the single-task write's actual row count") {
    // the observe() metric is the execution-time backstop for the plan-time
    // size estimate: prove the listener actually receives it on a write
    // action (observedMetrics on command executions is a Spark subtlety
    // worth pinning), so the over-clamp warning path is live
    IndexIVF.lastSmallAddRows.set(-1L)
    freshIndex(QuantizerKind.NONE) // add() routes small postings appends single-task
    ListenerBusAccess.drain(spark.sparkContext) // the listener bus is async
    val rows = IndexIVF.lastSmallAddRows.get()
    assert(rows > 0, "small-add observe metric never reached the listener")
  }

  test("postings small-add gate is MEASURED rows, not optimizer stats, at " +
      "a 1-byte boundary") {
    // regression for the 10M-doc SQ8 build: optimizer stats under-measured
    // the exploded postings frame >3x and routed a 39M-row write through
    // the single sorted task. The gate now prices the probe's EXACT row
    // count at SmallAddPostingRowBytes — pin the boundary: gate == rows*32
    // stays single-task (and the clamp hook reports the exact count), gate
    // == rows*32 - 1 must go bulk (no single-task observation at all). No
    // stats estimate lands exactly on that boundary, so a revert to the
    // estimate fails one of the two halves. Colbert-only schema: docs and
    // scalars writes observe through the same sizeGatedPlacement, so any
    // other field would race the hook.
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("idx_postgate").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 8,
        quantization = QuantizerKind.NONE, numIterations = 4, nbits = 2))))
    val docsOnly = corpus.toSeq.sortBy(_._1)
      .map { case (i, toks) => (i, toks) }.toDF("id", "colbert")
    idx.train(docsOnly)
    IndexIVF.lastSmallAddRows.set(-1L)
    idx.add(tenant = 3, docsOnly) // default gate: small path, exact count out
    ListenerBusAccess.drain(spark.sparkContext)
    val rows = IndexIVF.lastSmallAddRows.get()
    assert(rows > 0, "baseline add never reported through the clamp hook")
    val gate = rows * IndexIVF.SmallAddPostingRowBytes

    IndexIVF.lastSmallAddRows.set(-1L)
    spark.conf.set(IndexIVF.SmallAddMaxBytesKey, gate.toString)
    try {
      idx.add(tenant = 4, docsOnly) // rows*32 <= gate: single-task, same count
      ListenerBusAccess.drain(spark.sparkContext)
      assert(IndexIVF.lastSmallAddRows.get() == rows,
        s"probe count drifted: ${IndexIVF.lastSmallAddRows.get()} vs $rows")

      IndexIVF.lastSmallAddRows.set(-1L)
      spark.conf.set(IndexIVF.SmallAddMaxBytesKey, (gate - 1).toString)
      idx.add(tenant = 5, docsOnly) // rows*32 > gate: bulk path, no observation
      ListenerBusAccess.drain(spark.sparkContext)
      assert(IndexIVF.lastSmallAddRows.get() == -1L,
        "bulk-path add must not run the single-task observed write")
    } finally spark.conf.unset(IndexIVF.SmallAddMaxBytesKey)
  }

  test("compact() rewrites only partitions containing tombstoned rows (targeted)") {
    val idx = freshIndex(QuantizerKind.NONE)
    idx.add(tenant = 2, docsDf)
    def filesUnder(rel: String): Set[String] = {
      val root = java.nio.file.Paths.get(s"${idx.path}/$rel")
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .map[String](p => s"$p@${java.nio.file.Files.getLastModifiedTime(p)}")
        .toArray.map(_.toString).toSet
      finally s.close()
    }
    val beforeDocs = filesUnder("docs/tenant=2")
    val beforePost = filesUnder("postings/tenant=2")
    idx.removeDeferred(1, Seq(0L, 2L))
    idx.compact()
    // tenant 2's partitions were never touched: same files, same mtimes
    assert(filesUnder("docs/tenant=2") == beforeDocs)
    assert(filesUnder("postings/tenant=2") == beforePost)
    // the deletes applied physically to tenant 1, tenant 2 intact
    val t1 = idx.search(1, query(0L), numDocs, exhaustive)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(!t1.contains(0L) && !t1.contains(2L) && t1.contains(1L))
    val t2 = idx.search(2, query(0L), numDocs, exhaustive)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(t2.contains(0L))
  }

  test("bulk compact falls back to whole-table rewrite above the partition threshold") {
    val idx = freshIndex(QuantizerKind.NONE)
    spark.conf.set(IndexIVF.MaxTargetedPartitionsKey, "0") // force the bulk path
    try {
      idx.removeDeferred(1, Seq(0L, 2L))
      idx.compact()
      val got = idx.search(1, query(0L), numDocs, exhaustive)
        .collect().map(_.getAs[Long]("doc_id"))
      assert(!got.contains(0L) && !got.contains(2L) && got.contains(1L))
    } finally spark.conf.unset(IndexIVF.MaxTargetedPartitionsKey)
  }

  test("add() with TWO tensor fields lands both fields' postings and context") {
    // regression: concurrent appends to the same table directory raced on
    // the shared Hadoop committer staging dir — same-table writes must
    // serialize (different tables still overlap)
    import spark.implicits._
    val schema2 = GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 8, numIterations = 2),
      GField.colbert("colbert2", dim, numCentroids = 8, numIterations = 2)))
    val path = java.nio.file.Files.createTempDirectory("idx_twofields").toString
    val idx = IndexIVF.create(spark, path, schema2)
    val df = corpus.toSeq.sortBy(_._1)
      .map { case (i, toks) => (i, toks, toks.map(_.reverse)) }
      .toDF("id", "colbert", "colbert2")
    idx.train(df)
    idx.add(1, df)
    val fid1 = idx.mapper.id("colbert")
    val fid2 = idx.mapper.id("colbert2")
    import org.apache.spark.sql.functions.col
    Seq(idx.postingsDf, idx.contextDf).foreach { t =>
      val perField = t.groupBy(col("field")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(perField.keySet == Set(fid1, fid2), s"missing a field's rows: $perField")
      assert(perField.values.forall(_ >= numDocs), s"short row counts: $perField")
    }
  }

  test("add() skips docs whose tensor value is null (matches old explode semantics)") {
    import spark.implicits._
    val idx = freshIndex(QuantizerKind.NONE)
    val withNull = Seq(
      (100L, corpus(0L), "even", 0L),
      (101L, null.asInstanceOf[Seq[Seq[Float]]], "odd", 1L))
      .toDF("id", "colbert", "cat", "num")
    idx.add(1, withNull)
    import org.apache.spark.sql.functions.col
    val ctxIds = idx.contextDf.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ctxIds.contains(100L) && !ctxIds.contains(101L))
    // the null-tensor doc still gets its stored/scalar rows
    val docIds = idx.docsDf.filter(col("doc_id") >= 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(docIds == Set(100L, 101L))
  }

  test("one add = one parquet file per touched postings bucket directory (both write paths)") {
    import spark.implicits._
    def bucketFileCounts(idx: IndexIVF): Map[String, Int] = {
      val root = java.nio.file.Paths.get(idx.path, "postings")
      val stream = java.nio.file.Files.walk(root)
      try {
        val files = scala.jdk.CollectionConverters.IteratorHasAsScala(stream.iterator()).asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
        files.groupBy(_.getParent.toString).map { case (d, fs) => d -> fs.size }
      } finally stream.close()
    }
    // small-add path: few input partitions -> single sorted task
    val small = freshIndex(QuantizerKind.NONE)
    val smallCounts = bucketFileCounts(small)
    assert(smallCounts.nonEmpty && smallCounts.values.forall(_ == 1),
      s"small add fanned out micro-files: $smallCounts")
    // bulk path: force the clustering shuffle via the byte-threshold conf
    // (the path trigger is an optimizer-stats size estimate) — must still
    // land one file per bucket dir
    val path = java.nio.file.Files.createTempDirectory("idx_bulk").toString
    val bulk = IndexIVF.create(spark, path, mkSchema(QuantizerKind.NONE))
    val spreadDocs = docsDf.repartition(IndexIVF.SmallAddPartitions + 4)
    bulk.train(spreadDocs)
    spark.conf.set(IndexIVF.SmallAddMaxBytesKey, "0")
    try bulk.add(1, spreadDocs)
    finally spark.conf.unset(IndexIVF.SmallAddMaxBytesKey)
    val bulkCounts = bucketFileCounts(bulk)
    assert(bulkCounts.nonEmpty && bulkCounts.values.forall(_ == 1),
      s"bulk add fanned out micro-files: $bulkCounts")
  }

  /** parquet files per partition directory under idx.path/tbl. */
  def partFileCounts(idx: IndexIVF, tbl: String): Map[String, Int] = {
    val root = java.nio.file.Paths.get(idx.path, tbl)
    val stream = java.nio.file.Files.walk(root)
    try {
      val files = scala.jdk.CollectionConverters.IteratorHasAsScala(stream.iterator()).asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
      files.groupBy(_.getParent.toString).map { case (d, fs) => d -> fs.size }
    } finally stream.close()
  }

  test("compactFiles() merges trickle-add micro-files; search and pruning unaffected") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("idx_trickle").toString
    val idx = IndexIVF.create(spark, path, mkSchema(QuantizerKind.NONE))
    idx.train(docsDf)
    // trickle ingest: one add per doc — each append lands one more file in
    // every touched partition directory
    (0L until numDocs.toLong).foreach { i =>
      idx.add(1, Seq(Doc(i, corpus(i), if (i % 2 == 0) "even" else "odd", i % 3)).toDF())
    }
    val before = partFileCounts(idx, "postings")
    assert(before.values.exists(_ > 1),
      s"trickle adds should have accumulated micro-files: $before")
    val resBefore = idx.search(1, query(3), 10, exhaustive)
      .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    idx.compactFiles()
    Seq("postings", "scalars", "context", "docs").foreach { tbl =>
      val after = partFileCounts(idx, tbl)
      assert(after.nonEmpty && after.values.forall(_ == 1),
        s"$tbl still has micro-files after compactFiles: $after")
    }
    val resAfter = idx.search(1, query(3), 10, exhaustive)
      .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(resBefore == resAfter, "compactFiles changed search results")
    // idempotent: nothing above the threshold -> second call is a no-op
    idx.compactFiles()
    assert(partFileCounts(idx, "postings").values.forall(_ == 1))
  }

  test("tenant isolation E2E: colliding doc ids; remove/compact in one tenant " +
    "never touches the other") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("idx_tenants").toString
    val idx = IndexIVF.create(spark, path, mkSchema(QuantizerKind.NONE))
    idx.train(docsDf)
    // SAME doc ids added under two tenants (reference keys every row by
    // tenant first, lintdb/index.h:108-139)
    idx.add(1, docsDf)
    idx.add(2, docsDf)
    def ids(tenant: Long): Set[Long] =
      idx.search(tenant, query(5), numDocs, exhaustive)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(1) == ids(2), "identical corpora must rank identically per tenant")
    // physical remove in tenant 1 only
    idx.remove(1, Seq(5L, 6L))
    assert(!ids(1).contains(5L) && !ids(1).contains(6L))
    assert(ids(2).contains(5L) && ids(2).contains(6L),
      "tenant 2 lost docs to tenant 1's remove")
    // deferred remove + compact in tenant 2 only
    idx.removeDeferred(2, Seq(7L))
    assert(!ids(2).contains(7L), "tombstone must hide the doc from reads")
    assert(ids(1).contains(7L), "tenant 1 must not see tenant 2's tombstone")
    idx.compact()
    assert(!ids(2).contains(7L) && ids(1).contains(7L),
      "physical compaction crossed the tenant boundary")
    // stored-field hydration stays per-tenant too
    val cat2 = idx.search(2, query(4), 3, exhaustive).select("cat").collect()
    assert(cat2.nonEmpty && cat2.forall(_.getString(0) != null))
  }

  test("merge writes centroid-sorted postings files (row-group pruning invariant)") {
    import spark.implicits._
    // numCentroids (32) > CentroidBuckets (16) so each bucket directory
    // holds MULTIPLE centroid values — with fewer centroids than buckets
    // every file trivially contains one centroid and the sort can't break.
    // Source index gets TWO adds: its bucket dirs hold two sorted files
    // each, which one merge read split will concatenate — an unsorted
    // append lands exactly here.
    def bigSchema = GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 32, numIterations = 2),
      GField(name = "cat", dataType = GDataType.TEXT.toString,
        roles = Seq(FieldRole.Stored.toString))))
    val wideCorpus = {
      val r = new scala.util.Random(11)
      (0L until 40L).map(i =>
        i -> Seq.fill(8)(Seq.fill(dim)(r.nextFloat() * 2f - 1f))).toMap
    }
    def wideDf(ids: Seq[Long]) =
      ids.map(i => Doc(i, wideCorpus(i % 40), "x", 0L)).toDF()
        .select("id", "colbert", "cat")
    val dst = IndexIVF.create(spark,
      java.nio.file.Files.createTempDirectory("idx_mergedst").toString, bigSchema)
    dst.train(wideDf(0L until 40L))
    dst.add(1, wideDf(0L until 40L))
    val srcPath = java.nio.file.Files.createTempDirectory("idx_mergesrc").toString
    val src = IndexIVF.create(spark, srcPath, bigSchema)
    src.coarse = dst.coarse // same centroid space
    src.train(wideDf(0L until 40L))
    src.add(1, wideDf(100L until 120L))
    src.add(1, wideDf(120L until 140L))
    dst.merge(srcPath)
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dst.path, "postings"))
    val files = try scala.jdk.CollectionConverters.IteratorHasAsScala(stream.iterator())
      .asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally stream.close()
    assert(files.nonEmpty)
    files.foreach { f =>
      val cents = spark.read.parquet(f.toString).select("centroid")
        .collect().map(_.getLong(0))
      assert(cents.sameElements(cents.sorted),
        s"postings file $f is not centroid-sorted after merge: ${cents.mkString(",")}")
    }
    // and the merged docs are searchable
    val got = dst.search(1,
      VectorQuery("colbert", wideCorpus(3L).map(_.toArray).toArray), 80,
      SearchOptions(kTopCentroids = 32, nProbe = 32)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got.exists(_ >= 100L), "merged docs missing from search")
  }

  test("every table's files are written in probe order (row-group stats invariant)") {
    import spark.implicits._
    // 32 centroids over 16 buckets (multiple centroids per bucket dir),
    // shuffled input, bulk write path forced: if any write path loses its
    // ordering — including to the dynamic-partition writer's own inserted
    // sort — it shows here
    val schema = GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 32, numIterations = 2),
      GField(name = "cat", dataType = GDataType.TEXT.toString,
        roles = Seq(FieldRole.Indexed.toString, FieldRole.Stored.toString)),
      GField.indexed("num", GDataType.INTEGER)))
    val r = new scala.util.Random(13)
    val wide = (0L until 60L).map(i =>
      Doc(i, Seq.fill(6)(Seq.fill(dim)(r.nextFloat() * 2f - 1f)),
        s"c${i % 7}", i % 11))
    val idx = IndexIVF.create(spark,
      java.nio.file.Files.createTempDirectory("idx_order").toString, schema)
    val shuffled = wide.toDF().repartition(8) // destroy input order
    idx.train(shuffled)
    spark.conf.set(IndexIVF.SmallAddMaxBytesKey, "0")
    try idx.add(1, shuffled)
    finally spark.conf.unset(IndexIVF.SmallAddMaxBytesKey)

    def files(tbl: String): Seq[java.nio.file.Path] = {
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(idx.path, tbl))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(stream.iterator()).asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally stream.close()
    }
    def assertSorted[T](tbl: String, colName: String,
        get: org.apache.spark.sql.Row => T)(implicit ord: Ordering[T]): Unit =
      files(tbl).foreach { f =>
        val vs = spark.read.parquet(f.toString).select(colName)
          .collect().toSeq.filterNot(_.isNullAt(0)).map(get)
        assert(vs == vs.sorted,
          s"$tbl file $f not sorted by $colName: ${vs.mkString(",")}")
      }
    assertSorted[Long]("postings", "centroid", _.getLong(0))
    assertSorted[Long]("context", "doc_id", _.getLong(0))
    assertSorted[Long]("docs", "doc_id", _.getLong(0))
    // scalars: each (tenant, field) dir must be ordered by ITS probe
    // column — value_num for numeric fields, value_str for text fields
    // (whose value_num is all-null)
    files("scalars").foreach { f =>
      val rows = spark.read.parquet(f.toString)
        .select("value_str", "value_num").collect().toSeq
      if (rows.forall(_.isNullAt(1))) {
        val vs = rows.map(_.getString(0))
        assert(vs == vs.sorted, s"text scalars file $f not sorted: $vs")
      } else {
        val vn = rows.map(_.getDouble(1))
        assert(vn == vn.sorted, s"numeric scalars file $f not sorted: $vn")
      }
    }
  }

  test("concurrent add() calls from two threads lose nothing (per-index write lock)") {
    import spark.implicits._
    // without the per-index write lock the two adds share the context/
    // postings tables' Hadoop committer staging dir and the first commit
    // destroys the second's pending task files (lost rows / job failure)
    val idx = freshIndex(QuantizerKind.NONE)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val fa = Future(idx.add(1,
      (100L until 110L).map(i => Doc(i, corpus(i % numDocs), "even", 0L)).toDF()))
    val fb = Future(idx.add(1,
      (200L until 210L).map(i => Doc(i, corpus(i % numDocs), "odd", 1L)).toDF()))
    Await.result(fa, 3.minutes); Await.result(fb, 3.minutes)
    val ids = idx.contextDf.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert((100L until 110L).forall(ids.contains) && (200L until 210L).forall(ids.contains),
      s"concurrent adds lost docs: ${ids.toSeq.sorted}")
    assert(idx.postingsDf.select("doc_id").distinct().count() == numDocs + 20)
  }

  test("open() rejects an index with an older on-disk format version") {
    val idx = freshIndex(QuantizerKind.NONE)
    // overwrite metadata.json as a v1 (pre-centroid_bucket) index would have
    graft.core.Json.write(s"${idx.path}/_meta/metadata.json",
      Map("format" -> "graft-ivf-parquet", "version" -> 1))
    val e = intercept[IllegalStateException](IndexIVF.open(spark, idx.path))
    assert(e.getMessage.contains("format version 1"))
    assert(e.getMessage.contains("centroid_bucket"))
  }

  test("migrate() upgrades a v1 index in place: open() accepts it and search is identical") {
    import org.apache.spark.sql.functions.col
    val idx = freshIndex(QuantizerKind.NONE)
    val expected = idx.search(1, query(7), 10, exhaustive)
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // Downgrade the on-disk tree to a genuine v1 index: rewrite postings/
    // WITHOUT the centroid_bucket hive level and stamp metadata version 1 —
    // byte-for-byte what the pre-bucket layout wrote.
    val postings = s"${idx.path}/postings"
    val v1Rows = spark.read.parquet(postings).drop("centroid_bucket")
      .select("tenant", "field", "centroid", "doc_id")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(postings), spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(postings + ".v1tmp")
    v1Rows.write.partitionBy("tenant", "field").parquet(tmp.toString)
    fs.delete(new org.apache.hadoop.fs.Path(postings), true)
    fs.rename(tmp, new org.apache.hadoop.fs.Path(postings))
    graft.core.Json.write(s"${idx.path}/_meta/metadata.json",
      Map("format" -> "graft-ivf-parquet", "version" -> 1))
    intercept[IllegalStateException](IndexIVF.open(spark, idx.path))
    IndexIVF.migrate(spark, idx.path)
    // idempotent second call is a no-op
    IndexIVF.migrate(spark, idx.path)
    val reopened = IndexIVF.open(spark, idx.path)
    val got = reopened.search(1, query(7), 10, exhaustive)
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected, "post-migration search parity")
    // layout invariants restored: three-level hive tree, every posting in
    // the bucket directory bucketOf(centroid) says it belongs to
    val byBucket = spark.read.parquet(postings)
      .select(col("centroid"), col("centroid_bucket")).collect()
    assert(byBucket.nonEmpty)
    byBucket.foreach { r =>
      assert(r.getInt(1) == IndexIVF.bucketOf(r.getLong(0)))
    }
    val bucketDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(postings))
    try assert(scala.jdk.CollectionConverters.IteratorHasAsScala(bucketDirs.iterator())
      .asScala.exists(_.getFileName.toString.startsWith("centroid_bucket=")))
    finally bucketDirs.close()
  }

  test("migrate() refuses a version it cannot upgrade") {
    val idx = freshIndex(QuantizerKind.NONE)
    graft.core.Json.write(s"${idx.path}/_meta/metadata.json",
      Map("format" -> "graft-ivf-parquet", "version" -> 99))
    val e = intercept[IllegalArgumentException](IndexIVF.migrate(spark, idx.path))
    assert(e.getMessage.contains("99"))
  }

  test("a deferred tombstone hides only rows it postdates; a later one kills the re-add too") {
    import spark.implicits._
    val idx = freshIndex(QuantizerKind.NONE)
    idx.removeDeferred(1, Seq(9L))
    idx.add(1, Seq(Doc(9L, corpus(9L), "odd", 0L)).toDF())
    // a SECOND removeDeferred carries a later epoch than the re-add: the doc
    // must now be hidden again (epoch ordering, not id matching, decides)
    idx.removeDeferred(1, Seq(9L))
    val got = idx.search(1, query(9), numDocs, exhaustive)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!got.contains(9L), "the later tombstone hides the re-added rows")
    idx.compact()
    val after = idx.search(1, query(9), numDocs, exhaustive)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!after.contains(9L), "compaction applied the later tombstone to all rows")
  }

  test("update() after removeDeferred discharges the stale tombstone (read-modify-write path)") {
    import spark.implicits._
    val idx = freshIndex(QuantizerKind.NONE)
    idx.removeDeferred(1, Seq(6L))
    // the docstring-recommended path: update = physical remove + add; the
    // pending tombstone must not survive to hide (or later destroy) the
    // re-added rows
    idx.update(1, Seq(Doc(6L, corpus(6L), "even", 0L)).toDF())
    val got = idx.search(1, query(6), numDocs, exhaustive)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.contains(6L), "updated doc visible despite earlier removeDeferred")
    idx.compact()
    val after = idx.search(1, query(6), numDocs, exhaustive)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after.contains(6L), "compaction must not destroy the updated doc")
  }

  test("merge applies the other index's tombstones to ITS rows without importing them") {
    val schema = mkSchema(QuantizerKind.NONE)
    val a = IndexIVF.create(spark,
      java.nio.file.Files.createTempDirectory("idxMA").toString, schema)
    a.train(docsDf)
    import spark.implicits._
    val half1 = corpus.toSeq.sortBy(_._1).take(10)
      .map { case (i, t) => Doc(i, t, if (i % 2 == 0) "even" else "odd", i % 3) }
    val half2 = corpus.toSeq.sortBy(_._1).drop(10)
      .map { case (i, t) => Doc(i, t, if (i % 2 == 0) "even" else "odd", i % 3) }
    a.add(1, half1.toDF()) // docs 0..9 live in A
    val b = IndexIVF.copyTrained(a, java.nio.file.Files.createTempDirectory("idxMB").toString)
    b.add(1, half2.toDF()) // docs 10..19 in B
    b.removeDeferred(1, Seq(15L)) // pending delete of B's own doc
    b.removeDeferred(1, Seq(5L)) // id colliding with A's LIVE doc (not in B)
    a.merge(b.path)
    val ids = a.search(1, query(7), numDocs, exhaustive)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(15L), "B's tombstoned doc must not arrive via merge")
    assert(ids.contains(5L), "A's own live doc must survive B's unrelated tombstone")
    assert(a.tombstonesDf.count() == 0, "tombstones are applied, not imported")
  }

  test("QUANTIZED_TENSOR: indexing roles rejected at schema time, Stored/Context pass through") {
    import spark.implicits._
    // Indexed role -> schema-time error (the reference's own quantizeField
    // would bad_variant_access on this path)
    val e = intercept[IllegalArgumentException] {
      GSchema(Seq(GField(name = "codes", dataType = GDataType.QUANTIZED_TENSOR.toString,
        roles = Seq(FieldRole.Indexed.toString))))
    }
    assert(e.getMessage.contains("codes"))
    // Context role: raw bytes land in the context table untouched
    val path = java.nio.file.Files.createTempDirectory("idx_qt").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField(name = "codes", dataType = GDataType.QUANTIZED_TENSOR.toString,
        roles = Seq(FieldRole.Context.toString)))))
    val payload = Array[Byte](1, 2, 3, 4)
    idx.add(1, Seq((5L, payload)).toDF("id", "codes"))
    val row = idx.contextDf.collect().head
    assert(row.getAs[Array[Byte]]("doc_residuals").toSeq == payload.toSeq)
  }

  test("FLOAT16/TENSOR_FLOAT16 schemas fold to f32 and run E2E (DataTypes.h:34-35)") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("idx_f16").toString
    val schema = GSchema(Seq(
      GField(name = "colbert", dataType = "TENSOR_FLOAT16",
        roles = Seq(FieldRole.Colbert.toString),
        FieldParameters(dimensions = dim, numCentroids = 8, numIterations = 4)),
      GField(name = "score16", dataType = "FLOAT16",
        roles = Seq(FieldRole.Indexed.toString, FieldRole.Stored.toString))))
    val idx = IndexIVF.create(spark, path, schema)
    // the declared f16 names survive the schema.json round-trip; type
    // resolution folds them to the f32 twins
    val reopened = IndexIVF.open(spark, path)
    assert(reopened.schema.field("colbert").dataType == "TENSOR_FLOAT16")
    assert(reopened.schema.field("colbert").dtype == GDataType.TENSOR)
    assert(reopened.schema.field("score16").dataType == "FLOAT16")
    assert(reopened.schema.field("score16").dtype == GDataType.FLOAT)
    // add + search E2E through the folded types
    val docs = corpus.toSeq.sortBy(_._1)
      .map { case (i, toks) => DocF16(i, toks, i.toFloat / 10f) }.toDF()
    idx.train(docs)
    idx.add(tenant = 1, docs)
    val hits = idx.search(1, query(3L), k = 5, exhaustive).collect()
    assert(hits.nonEmpty && hits.head.getAs[Long]("doc_id") == 3L)
    // the FLOAT16 stored field hydrates as f32
    assert(hits.map(_.getAs[Float]("score16")).contains(0.3f))
  }

  test("add() rejects type mismatches with a field-named error (DocProcessor.cpp:47-52)") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("idx_badtype").toString
    val schema = GSchema(Seq(GField.indexed("num", GDataType.INTEGER)))
    val idx = IndexIVF.create(spark, path, schema)
    val bad = Seq((1L, 1.5)).toDF("id", "num") // double for INTEGER
    val e = intercept[IllegalArgumentException](idx.add(1, bad))
    assert(e.getMessage.contains("num"))
  }

  test("bulk JSON-lines ingest: spark.read.json -> cast -> add -> search (S11)") {
    import org.apache.spark.sql.functions._
    val srcDir = java.nio.file.Files.createTempDirectory("json_docs")
    val lines = corpus.toSeq.sortBy(_._1).map { case (i, toks) =>
      val tensor = toks.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
      s"""{"id": $i, "colbert": $tensor, "cat": "${if (i % 2 == 0) "even" else "odd"}", "num": ${i % 3}}"""
    }
    java.nio.file.Files.write(srcDir.resolve("docs.jsonl"),
      scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
    val raw = spark.read.json(srcDir.toString)
    // JSON infers array<array<double>>; the schema wants float tensors —
    // one cast at the boundary, then the ordinary add pipeline
    val docs = raw.select(col("id"), col("colbert").cast("array<array<float>>"),
      col("cat"), col("num"))
    val path = java.nio.file.Files.createTempDirectory("idx_json").toString
    val idx = IndexIVF.create(spark, path, mkSchema(QuantizerKind.NONE))
    idx.train(docs)
    idx.add(1, docs)
    val got = idx.search(1, query(7), 5, exhaustive)
      .select("doc_id").collect().map(_.getLong(0))
    assert(got.head == 7L, "self-match ranks first after JSON ingest")
  }

  test("merge refuses an index trained with a different model (fingerprint guard)") {
    import spark.implicits._
    val a = freshIndex(QuantizerKind.NONE)
    // same schema, independently trained on a DIFFERENT corpus -> different
    // centroid matrices: unioning would silently mix centroid spaces (wrong
    // scores, never a crash) — the guard must refuse loudly
    val r2 = new scala.util.Random(7)
    val otherDocs = (100L until 120L).map { i =>
      Doc(i, Seq.fill(tokensPerDoc)(Seq.fill(dim)(r2.nextFloat() * 2f - 1f)), "x", 0L)
    }.toDF()
    val bPath = java.nio.file.Files.createTempDirectory("idx_mismatch").toString
    val b = IndexIVF.create(spark, bPath, mkSchema(QuantizerKind.NONE))
    b.train(otherDocs)
    b.add(1, otherDocs)
    val e = intercept[IllegalArgumentException](a.merge(bPath))
    assert(e.getMessage.contains("different model"))
    // and nothing was imported by the refused merge
    assert(a.search(1, query(7), numDocs + 5, exhaustive)
      .select("doc_id").collect().map(_.getLong(0)).forall(_ < 100L))
    // the clone flow shares the model byte-for-byte and stays mergeable
    // (the full clone-then-merge E2E is the "merge unions" test below)
    val c = IndexIVF.copyTrained(a,
      java.nio.file.Files.createTempDirectory("idx_cloneok").toString)
    assert(IndexIVF.modelFingerprint(spark, a.path)
      == IndexIVF.modelFingerprint(spark, c.path))
  }

  test("merge unions another index's contents (index.cpp:512-535)") {
    val schema = mkSchema(QuantizerKind.NONE)
    val pathA = java.nio.file.Files.createTempDirectory("idxA").toString
    val a = IndexIVF.create(spark, pathA, schema)
    a.train(docsDf)
    import spark.implicits._
    val half1 = corpus.toSeq.sortBy(_._1).take(10)
      .map { case (i, t) => Doc(i, t, if (i % 2 == 0) "even" else "odd", i % 3) }
    val half2 = corpus.toSeq.sortBy(_._1).drop(10)
      .map { case (i, t) => Doc(i, t, if (i % 2 == 0) "even" else "odd", i % 3) }
    a.add(1, half1.toDF())
    val b = IndexIVF.copyTrained(a, java.nio.file.Files.createTempDirectory("idxB").toString)
    b.add(1, half2.toDF())
    a.merge(b.path)
    val got = a.search(1, query(15), 20, exhaustive).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got.contains(15L) && got.size == numDocs)
  }
}
