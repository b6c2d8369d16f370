package graft.index

import graft.core._
import graft.query.{QueryNode, SearchOptions}
import graft.quantizers.{Binarizer, CoarseQuantizer, IdentityQuantizer, ProductEncoder, Quantizer, ScalarQuantizer8}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's index: the reference's `IndexIVF` (lintdb/index.h:60-211)
  * re-expressed as a directory of partitioned Parquet tables + JSON metadata
  * + saved centroid/codec models, with every lifecycle operation a Spark job.
  *
  * Physical layout (SURVEY §7.1; replaces the RocksDB column families of
  * lintdb/cf.h / KeyBuilder.h):
  *
  *  - `postings/`  (tenant, field, centroid, doc_id) — the inverted index
  *    for tensor fields, hive-partitioned by (tenant, field,
  *    centroid_bucket = centroid % CentroidBuckets) and sorted by centroid
  *    within files: an nProbe search prunes whole bucket DIRECTORIES via
  *    partition pruning, then `centroid IN (...)` prunes row-groups inside
  *    the surviving buckets (the Spark analogue of the reference's prefix
  *    seek, InvertedIterator.h:20-68).
  *  - `scalars/`   (tenant, field, value_str, value_num, doc_id) — postings
  *    for scalar Indexed fields; equality matches value_str, ranges use
  *    value_num (KeyBuilder.h:236-276 embeds the typed value in the key).
  *  - `context/`   (tenant, field, doc_id, doc_codes, doc_residuals) — the
  *    ColBERT context data (per-token centroid ids + packed residual codes;
  *    DataTypes.h:97-100, DocEncoder.cpp:292-304).
  *  - `docs/`      (tenant, doc_id, <one column per Stored field>) — forward
  *    index (DocEncoder.cpp:267-288).
  *  - `_meta/`     schema.json, mapper.json, <field>.centroids.json,
  *    <field>.binarizer.json (index.cpp:317-352).
  *
  * Duplicate adds keep duplicate postings, and search dedups by doc_id at
  * query time — matching the reference (SURVEY §7.5.6).
  *
  * ==Reader vs maintenance isolation contract==
  *
  * Writers serialize through the per-path write lock, but READERS take no
  * lock and get no snapshot isolation from maintenance: a `DataFrame`
  * handle (a search result not yet collected, `postingsDf`, …) captures the
  * table's FILE LISTING when it is created, and [[compact]]/
  * [[compactFiles]]/[[remove]]'s directory swaps delete the listed files.
  * Executing a pre-swap handle after a swap fails LOUDLY — Spark raises
  * `FileNotFoundException` ("…It is possible the underlying files have been
  * updated… recreate the Dataset/DataFrame") — it never silently returns
  * partial data, because `spark.sql.files.ignoreMissingFiles` stays at its
  * `false` default (setting it true would turn this contract violation into
  * silent row loss; don't). The reference never faced this: RocksDB hands
  * every read a point-in-time snapshot for free (lintdb/index.cpp search
  * paths), while Parquet-on-a-filesystem has no MVCC. So the contract is:
  * '''maintenance ops are stop-the-world for in-flight reads of the same
  * index''' — quiesce readers around [[compact]]/[[compactFiles]]/bulk
  * [[remove]], or catch the failure and re-plan from a fresh handle. Handles
  * created AFTER the swap are always safe (every read re-lists through
  * [[readTable]]; nothing caches listings across calls).
  * MaintenanceIsolationSpec pins both halves — the loud failure and the
  * fresh-handle recovery.
  */
final class IndexIVF private (
    val spark: SparkSession,
    val path: String,
    val schema: GSchema) {

  val mapper: FieldMapper = FieldMapper.fromSchema(schema)
  var coarse: Map[String, CoarseQuantizer] = Map.empty
  var quantizers: Map[String, Quantizer] = Map.empty

  /** Set by [[IndexIVF.openAt]]: this handle is a read-only SNAPSHOT — all
    * table reads see only rows written at epoch <= this, with only
    * tombstones up to it applied; every mutator refuses. None = writable. */
  private[index] var snapshotEpoch: Option[Long] = None

  /** Per-(field, probes) broadcast of the harness-only two-level assignment
    * plan ([[addWithApproxAssignForHarness]]), stamped with the field's
    * CoarseQuantizer INSTANCE: train() installs a fresh instance, which
    * rebuilds. Keeps trickle ingest (foreachBatch -> add per micro-batch)
    * from paying the O(K·sqrt(K)·dim) driver-side plan build, or leaving
    * one undestroyed ~K·dim-float broadcast behind, on every call. A
    * superseded plan's broadcast is destroyed. */
  @transient private lazy val addPlans = new DerivedCache[(String, Int),
    CoarseQuantizer, org.apache.spark.broadcast.Broadcast[CoarseQuantizer.TwoLevelPlan]](
    DerivedCache.Unbounded, _.destroy())

  /** The snapshot ceiling of this handle, if it is one. */
  def snapshot: Option[Long] = snapshotEpoch

  private def requireWritable(): Unit = require(snapshotEpoch.isEmpty,
    s"index handle is a read-only snapshot at epoch ${snapshotEpoch.getOrElse(0L)}; " +
      "IndexIVF.open() a writable handle instead")

  /** Per-field centroid broadcasts, stamped with the CoarseQuantizer
    * instance (see [[centroidBroadcast]]). */
  @transient private lazy val centroidBroadcasts = new DerivedCache[String,
    CoarseQuantizer, org.apache.spark.broadcast.Broadcast[Array[Float]]](
    DerivedCache.Unbounded, _ => ())

  /** Row-major (numCentroids x dim) centroid matrix as a REAL Spark
    * broadcast, built lazily and cached per field for the lifetime of this
    * handle (stamped with the CoarseQuantizer instance, so a retrain that
    * swaps [[coarse]] transparently rebuilds). Shipped to each executor ONCE
    * and reused by every query and batch — the scoring expressions read it
    * via the broadcast handle instead of a K-proportional plan constant,
    * which at K=49152 cost a 159 MiB task binary deserialized per task
    * (measured 4.1 s/query at the 10M-doc batch shape before this). */
  def centroidBroadcast(field: String): org.apache.spark.broadcast.Broadcast[Array[Float]] = {
    val cq = coarse.getOrElse(field,
      throw new IllegalStateException(s"field $field is not trained"))
    centroidBroadcasts.get(field, cq) {
      val d = cq.dim
      val flat = new Array[Float](cq.numCentroids * d)
      var c = 0
      while (c < cq.numCentroids) {
        System.arraycopy(cq.centroids(c), 0, flat, c * d, d)
        c += 1
      }
      spark.sparkContext.broadcast(flat)
    }
  }

  /** Key of this handle's slot in the JVM-global derived-state caches of
    * the companion: the QUALIFIED path (like [[IndexIVF.writeLocks]]), so
    * sibling handles on one path share one artifact and one build, and the
    * snapshot epoch, so an [[IndexIVF.openAt]] handle gets its own slot. */
  private def derivedKey(tenant: Long, field: String): IndexIVF.DerivedKey =
    (lockKey, tenant, mapper.id(field), snapshotEpoch)

  /** Freshness stamp of derived state over `rows` visible rows (the
    * [[DerivedCache]] contract). On a live handle it is (mutation tick,
    * persisted epoch, rows): the tick covers a write-lock section on ANY
    * in-process handle for this path; the one metadata read of
    * `_meta/epoch.json` covers a mutation committed by a FOREIGN PROCESS,
    * even one that keeps the row count (removeDeferred + add both advance
    * the epoch). The residual cross-process hole is a foreign physical
    * rewrite that changes neither rows nor epoch (compactFiles —
    * content-identical by contract, so serving the cached state is correct);
    * concurrent external writers during serving are outside the engine's
    * single-writer contract. An [[IndexIVF.openAt]] handle's visible set is immutable, so its stamp
    * is a constant plus rows. Read it BEFORE the build it guards. */
  private def stamp(rows: Long): IndexIVF.Stamp =
    if (snapshotEpoch.isEmpty) (mutationTick.get(), currentEpoch(), rows)
    else (-1L, -1L, rows)

  /** JVM-global cached broadcast of the deduped (doc_id -> codes) context
    * snapshot every search's phase-1 walk scores against
    * ([[graft.functions.CtxCodes]], [[graft.query.BatchSearcher.phase1]]).
    * The BHJ shape this replaces rebuilt the relation EVERY batch — a full
    * context scan + dedup shuffle + an 839 MiB driver collect at the
    * 10M-doc shape, the dominant term of the fixed per-batch serving cost
    * (COVERAGE.md round 16 breakdown). Built once per index state
    * ([[stamp]] of the caller's visible row count) and shipped to executors
    * once; steady-state batches pay a map lookup. */
  def contextCodesBroadcast(tenant: Long, field: String, visibleRows: Long,
      measuredBytes: Long, maxBytes: Long)
      : org.apache.spark.broadcast.Broadcast[graft.functions.CtxCodes] =
    IndexIVF.ctxCodesBroadcasts.get(derivedKey(tenant, field), stamp(visibleRows)) {
      require(measuredBytes <= maxBytes,
        s"context relation for ($tenant, $field) measures $measuredBytes B " +
          s"> broadcast budget $maxBytes B — callers must gate before asking " +
          "for the broadcast snapshot")
      val thin = contextDf
        .filter(col("tenant") === tenant && col("field") === mapper.id(field))
        .select(col("doc_id"), col("doc_codes"))
      // bounded: measuredBytes <= maxBytes required just above — the same
      // byte budget the old per-batch BroadcastExchange collect ran under
      val rows = thin.collect().map { r =>
        r.getLong(0) -> r.getSeq[Long](1).toArray
      }
      spark.sparkContext.broadcast(graft.functions.CtxCodes.build(rows))
    }

  /** Per-batch gate stats (visible rows, measured relation bytes) for
    * (tenant, field), cached JVM-wide under the tick + persisted-epoch
    * [[stamp]] (rows are what `compute` measures, so they are not part of
    * it; snapshot handles cache forever). The stats only change when the
    * visible set does, yet the batch path re-ran the footer count + byte
    * measure on EVERY call — 0.27 s/batch, ~15 % of the steady 10M batch
    * after the r18 inverted walk. `compute` runs the real job on miss
    * ([[graft.query.BatchSearcher.contextRelationStats]] owns the byte
    * pricing). */
  private[graft] def cachedContextStats(tenant: Long, field: String)(
      compute: => (Long, Long)): (Long, Long) =
    IndexIVF.ctxStats.get(derivedKey(tenant, field), stamp(0L))(compute)

  /** Resolve (building if needed) the [[PointStore]] for this handle's
    * visible (tenant, field) context — the record-addressable residual
    * layout batch phase-2 hydration multigets against once the pool
    * outgrows scan pruning. Cached JVM-wide under [[stamp]]; additionally
    * the store's state tag encodes (visible rows, persisted epoch), so a
    * RESTARTED process adopts a matching on-disk store instead of
    * rebuilding. Returns the store directory and its bucket count.
    *
    * `visibleRowsHint`: the caller's already-computed visible row count
    * (the batch byte-gate stats), so the steady-state resolve is one
    * metadata read + a map hit; None runs the count. */
  def pointStore(tenant: Long, field: String,
      visibleRowsHint: Option[Long] = None): (String, Int) = {
    val fid = mapper.id(field)
    def thin = contextDf
      .filter(col("tenant") === tenant && col("field") === fid)
      .select(col("doc_id"), col("doc_residuals"))
    val st @ (_, epoch, rows) = stamp(visibleRowsHint.getOrElse(thin.count()))
    IndexIVF.pointStores.get(derivedKey(tenant, field), st) {
      val root = p(s"_cache/points/t${tenant}_f$fid")
      val tag = snapshotEpoch
        .map(e => s"snap${e}_r$rows")
        .getOrElse(s"r${rows}_e$epoch")
      val (dir, meta) = PointStore.build(spark, thin, root, tag)
      (dir, meta.buckets)
    }
  }

  /** The DOC-PARTITIONED context snapshot: one deduped
    * [[graft.functions.CtxCodes]] per partition, persisted across batches —
    * the distributed twin of [[contextCodesBroadcast]] for a context that
    * outgrows the broadcast byte gate. Where the broadcast snapshot puts
    * the WHOLE inverted view on every executor, this spreads it: each
    * partition holds a doc-disjoint slice (hash(doc_id) co-locates
    * duplicate adds, so the per-partition first-wins dedup in
    * [[graft.functions.CtxCodes.build]] reproduces the arbitrary-winner
    * contract of the dropDuplicates it replaces), and the per-partition
    * `inverted` CSR view materializes lazily on first walk and stays with
    * the cached partition object. Built ONCE per index state ([[stamp]]):
    * the one corpus-sized shuffle here is all the over-gate phase-1 walk
    * ([[graft.query.BatchSearcher]]) ever reads; steady-state batches scan
    * no table.
    *
    * Partition count derives from the MEASURED relation bytes over
    * `bytesPerPart` (floored at the cluster's default parallelism) —
    * scale-adaptive, never a local-mode constant. MEMORY_AND_DISK: a
    * partition evicted under memory pressure re-reads from local disk (or
    * recomputes from lineage), never fails the batch. */
  def contextCodesPartitioned(tenant: Long, field: String, visibleRows: Long,
      measuredBytes: Long, bytesPerPart: Long)
      : org.apache.spark.rdd.RDD[graft.functions.CtxCodes] =
    IndexIVF.ctxCodesPartitions.get(derivedKey(tenant, field), stamp(visibleRows)) {
      val fid = mapper.id(field)
      val thin = contextDf
        .filter(col("tenant") === tenant && col("field") === fid)
        .select(col("doc_id"), col("doc_codes"))
      val parts = math.max(spark.sparkContext.defaultParallelism.toLong,
        (measuredBytes + math.max(1L, bytesPerPart) - 1)
          / math.max(1L, bytesPerPart))
      require(parts <= Int.MaxValue,
        s"context partition count overflow: $parts")
      val rdd = thin.repartition(parts.toInt, col("doc_id")).rdd
        .mapPartitions { it =>
          val rows = it.map(r =>
            r.getLong(0) -> r.getSeq[Long](1).toArray).toArray
          Iterator.single(graft.functions.CtxCodes.build(rows))
        }
        .setName(s"graft ctx-codes partitioned t${tenant} f$fid")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // materialize eagerly: the one-time build cost lands HERE (and in
      // warmBatchCaches when pre-warmed), not silently inside the first
      // batch's phase-1 stage
      rdd.count()
      rdd
    }

  /** Warm the serving caches for (tenant, field) so the first search or
    * searchBatch doesn't pay the one-time snapshot build in-band — see
    * [[graft.query.BatchSearcher.warmBatchCaches]] for what is built and
    * when it's a no-op. The idiom for latency-sensitive serving:
    * `val idx = IndexIVF.open(...); idx.warmBatchCaches(tenant, field)`. */
  def warmBatchCaches(tenant: Long, field: String): Unit =
    graft.query.BatchSearcher.warmBatchCaches(this, tenant, field)

  import IndexIVF._

  private def p(name: String) = s"$path/$name"

  /** Mutations to one index serialize per JVM: two concurrent appends to
    * the same table share the Hadoop committer's `_temporary` staging dir,
    * and the first job's commit destroys the second's pending task files —
    * the same hazard [[runConcurrently]] documents for the lanes WITHIN one
    * add, here guarded ACROSS calls (e.g. two ingest threads, or a
    * maintenance compactFiles racing an add). Striped by index path so
    * separate indexes never contend; monitor locks are reentrant, so
    * update() → remove()+add() nests fine. The Spark jobs inside the
    * critical section still parallelize — this serializes only the
    * driver-side orchestration of writes to one index.
    *
    * The key is the FILESYSTEM-qualified path, not the raw string: two
    * handles opened with different spellings of one directory (trailing
    * slash, relative vs absolute, scheme-qualified vs not) must share one
    * lock or the committer-staging-dir serialization silently evaporates. */
  private lazy val lockKey: String = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      hp.toUri, spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(hp).toString
  }

  /** Bumped by every write-lock section on ANY in-process handle for this
    * path: the tick lives beside the JVM-global [[IndexIVF.writeLocks]]
    * entry (keyed by [[lockKey]]), so a mutation performed through a
    * sibling handle in the same JVM invalidates this handle's derived
    * state too (see [[stamp]]). Conservative — read-only recovery
    * calls bump it too, which only costs a rebuild. */
  @transient private lazy val mutationTick =
    IndexIVF.mutationTicks.computeIfAbsent(lockKey,
      _ => new java.util.concurrent.atomic.AtomicLong(0L))

  private def withWriteLock[A](f: => A): A = {
    requireWritable()
    IndexIVF.writeLocks.computeIfAbsent(lockKey, _ => new Object).synchronized {
      try f finally { mutationTick.incrementAndGet(); () }
    }
  }

  // ------------------------------------------------------------ write epoch

  /** Monotonic write epoch, persisted in `_meta/epoch.json` and advanced
    * under the write lock by every [[add]]/[[merge]]/[[removeDeferred]].
    * Appended rows are stamped with their write's epoch; a tombstone kills
    * only rows with epoch <= its own — so removeDeferred(id) -> add(id) ->
    * compact() keeps the re-added rows (they carry a LATER epoch than the
    * tombstone), closing the data-loss edge every epoch-less tombstone
    * design has on the bulk-delete path. The reference's synchronous deletes
    * via the mapping CF (RocksdbInvertedList.cpp:22-95) never had the
    * window; this restores the same RMW safety for the deferred path. */
  def currentEpoch(): Long =
    IndexIVF.readLongField(p("_meta/epoch.json"), "epoch")

  /** Oldest epoch [[IndexIVF.openAt]] can faithfully reproduce, persisted
    * in `_meta/floor.json` (0 when never raised). The synchronous [[remove]]
    * and [[compact]] physically REWRITE history — victim rows leave the
    * disk rather than being tombstone-masked — so a snapshot below the
    * rewrite's epoch would silently serve partial data; both raise the
    * floor and [[IndexIVF.openAt]] refuses epochs under it instead of
    * relying on a scaladoc caveat. Retraining does NOT raise it: models are
    * epoch-stamped into `_meta/history/<epoch>/` at save ([[train]]) and
    * openAt loads the newest stamp <= its snapshot epoch, so old snapshots
    * keep scoring with the model that was in effect when they were live. */
  def historyFloor(): Long =
    IndexIVF.readLongField(p("_meta/floor.json"), "floor")

  /** Raise (never lower) the snapshot-validity floor — call under the
    * write lock, AFTER the physical rewrite it records has committed.
    * Raising the floor also vacuums the model-history stamps no snapshot
    * can reach anymore — without it a nightly-retrained long-lived index
    * accretes one full model copy (25 MB at K=49152 x d=128 f32) per
    * retrain forever. */
  private def raiseHistoryFloor(epoch: Long): Unit =
    if (epoch > historyFloor()) {
      Json.write(p("_meta/floor.json"), Map("floor" -> epoch))
      vacuumModelHistory(epoch)
    }

  /** Delete `_meta/history/<e>/` stamp dirs that are unreachable under
    * `floor`: [[IndexIVF.openAt]] refuses epochs < floor and resolves the
    * NEWEST stamp <= its epoch, so every stamp strictly below the newest
    * stamp <= floor can never be loaded again. That newest one is KEPT —
    * it still serves snapshots in [floor, next stamp). Safe per-file
    * because every [[train]] stamps ALL model files of ALL tensor fields
    * into one epoch dir (saveStamped), so stamp dirs are uniform. */
  private def vacuumModelHistory(floor: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val h = java.nio.file.Paths.get(p("_meta/history"))
    if (java.nio.file.Files.isDirectory(h)) {
      val epochs = {
        val s = java.nio.file.Files.list(h)
        try s.iterator().asScala
          .flatMap(_.getFileName.toString.toLongOption).toList
        finally s.close()
      }
      epochs.filter(_ <= floor).maxOption.foreach { keep =>
        epochs.filter(_ < keep).foreach { e =>
          deleteDirIfExists(h.resolve(e.toString).toString)
        }
      }
    }
  }

  /** Advance and persist the epoch counter (call under the write lock). */
  private def nextEpoch(): Long = {
    val nxt = currentEpoch() + 1L
    Json.write(p("_meta/epoch.json"), Map("epoch" -> nxt))
    nxt
  }

  // ------------------------------------------------- write-ahead journal

  /** Crash atomicity for MULTI-TABLE appends. The reference writes a doc's
    * postings/context/docs/scalars rows in ONE RocksDB WriteBatch
    * (lintdb/index.cpp add path), so a crash never exposes a half-added
    * document. Here each table is a separate Spark job commit, so a crash
    * (or a mid-write failure) between jobs would leave a TORN write — a doc
    * with postings but no context, a merge with half its tables imported.
    *
    * The journal closes that window: every epoch-stamped append ([[add]],
    * [[merge]], [[removeDeferred]]) writes `_meta/pending.json`
    * `{op, epoch}` BEFORE its first table job and deletes it after the last
    * one commits. Because every row such an operation writes carries that
    * single fresh epoch literal, recovery is one targeted delete:
    * [[vacuumEpoch]] drops all rows stamped with the torn epoch from every
    * table (the same partition-targeted tmp+swap rewrite as [[compact]]),
    * restoring exactly the pre-operation state. Recovery runs eagerly when
    * the operation fails in-process, and at [[IndexIVF.open]] when a
    * previous writer crashed (the journal entry is still on disk).
    * Rewrite-style ops need no journal: [[remove]]/[[compact]]/
    * [[compactFiles]] stay read-correct mid-crash — each directory swap is
    * individually crash-safe ([[swapDir]]), and tombstones are only deleted
    * after every rewrite lands, so an interrupted run resumes or re-runs
    * idempotently. */
  private def pendingPath: String = p("_meta/pending.json")

  /** Run an epoch-stamped multi-table append under the journal: journal
    * entry first, body, then clear; on ANY failure, eagerly vacuum the
    * epoch's rows so the index returns to its pre-call state, then
    * rethrow. */
  private def journaled[A](op: String, epoch: Long)(body: => A): A = {
    // never clobber an existing entry: a torn train() whose exception the
    // caller caught leaves {op:train, stamped:true} pending roll-forward on
    // this very handle — overwriting it here would strand half-copied
    // current model files forever. Recover (roll forward/back) first.
    recoverPending()
    Json.write(pendingPath, Map("op" -> op, "epoch" -> epoch))
    try {
      val r = body
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(pendingPath))
      r
    } catch {
      case e: Throwable =>
        try {
          vacuumEpoch(epoch)
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(pendingPath))
        } catch { case r2: Throwable => e.addSuppressed(r2) }
        throw e
    }
  }

  /** Delete every row stamped with exactly `epoch` from every table
    * (including tombstones — a torn [[removeDeferred]] is an epoch-stamped
    * tombstone append). Targeted: only partitions containing such rows are
    * rewritten, through the same crash-safe swap as [[compact]] — so a
    * crash DURING recovery just leaves the journal entry for the next
    * open to finish the job. */
  private def vacuumEpoch(epoch: Long): Unit = {
    val doomedRows = (df: DataFrame) =>
      df.filter(coalesce(col("epoch"), lit(0L)) === epoch)
    val survivorRows = (df: DataFrame) =>
      df.filter(coalesce(col("epoch"), lit(0L)) =!= epoch)
    (Seq("postings", "scalars", "context", "docs").map(t => t -> tableParts(t)) :+
      ("tombstones" -> Seq("tenant"))).foreach { case (tbl, parts) =>
      rewritePartitionsWhere(p(tbl), parts, doomedRows, survivorRows)
    }
  }

  /** If a previous writer died mid-operation (journal entry present),
    * restore consistency and clear the journal. Appends ([[add]],
    * [[merge]], [[removeDeferred]]) vacuum the torn epoch's rows; a torn
    * [[train]] has no rows — its two-phase model save rolls BACK (partial
    * stamp deleted, current files were never touched) or FORWARD (the
    * journal says the stamp completed: re-copy it over the current files —
    * idempotent) depending on the phase the writer died in. Returns the
    * recovered (op, epoch) if recovery ran. Called by [[IndexIVF.open]];
    * public so an operator can also invoke it explicitly. */
  def recoverPending(): Option[(String, Long)] = withWriteLock {
    if (!Json.exists(pendingPath)) None
    else {
      // an unparseable journal fails LOUDLY, never falls through to the
      // vacuum branch: vacuuming on a journal we can't read could destroy
      // committed rows. Json.write is atomic (write-temp-fsync-rename), so
      // a torn pending.json indicates external corruption — the operator
      // must inspect, not the recovery guess. The error names the file.
      val m =
        try Json.read(pendingPath, classOf[Map[String, Any]])
        catch {
          case e: Exception => throw new IllegalStateException(
            s"journal file $pendingPath exists but is not parseable JSON — " +
              "refusing to recover (a guess could vacuum committed rows); " +
              "inspect or remove the file manually", e)
        }
      val op = m.get("op").map(_.toString).getOrElse(
        throw new IllegalStateException(
          s"journal file $pendingPath carries no op — manual inspection required"))
      require(IndexIVF.JournaledOps.contains(op), s"journal file $pendingPath " +
        s"names unrecognized op '$op' (known: ${IndexIVF.JournaledOps.mkString(",")}) — " +
        "refusing to vacuum on a journal this version does not understand")
      val epoch = m.get("epoch").collect { case n: Number => n.longValue() }
        .getOrElse(throw new IllegalStateException(
          s"$pendingPath exists but carries no epoch — manual inspection required"))
      if (op == "train") {
        val stamped = m.get("stamped").contains(true)
        val stampDir = java.nio.file.Paths.get(p(s"_meta/history/$epoch"))
        if (stamped) {
          log.warn(s"index at $path has a torn 'train' save at epoch $epoch " +
            "(writer died copying the completed stamp over the current " +
            "model files); rolling forward from the stamp")
          copyStampOverCurrent(epoch)
        } else {
          log.warn(s"index at $path has a torn 'train' save at epoch $epoch " +
            "(writer died before the stamp completed); rolling the partial " +
            "stamp back — current model files were never touched")
          deleteDirIfExists(stampDir.toString)
        }
      } else {
        log.warn(s"index at $path has a torn '$op' write at epoch $epoch " +
          "(previous writer died mid-operation); vacuuming its rows")
        vacuumEpoch(epoch)
      }
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(pendingPath))
      Some((op, epoch))
    }
  }

  /** Total read: the declared schema is supplied explicitly (the index
    * format is versioned — see [[IndexIVF.FormatVersion]]), which skips
    * per-read footer inference AND makes a table with no data files yet
    * (fresh index — an empty partitioned write emits only _SUCCESS) read
    * as an empty frame of the right shape; only a missing directory needs
    * the fallback. Partition columns (tenant/field/centroid_bucket) are in
    * the declared schema — Spark fills them from the directory names. */
  private def readTable(name: String, schema: StructType): DataFrame =
    try spark.read.schema(schema).parquet(p(name))
    catch {
      case _: org.apache.spark.sql.AnalysisException => IndexIVF.empty(spark, schema)
    }

  /** Declared on-disk schema per table (this index's stored fields for
    * `docs`) — maintenance reads use it instead of footer inference so a
    * table mixing pre-/post-epoch files always resolves every column. */
  private def tableSchema(tbl: String): StructType = tbl match {
    case "postings" => IndexIVF.postingsSchema
    case "scalars" => IndexIVF.scalarsSchema
    case "context" => IndexIVF.contextSchema
    case "docs" => IndexIVF.docsSchema(schema)
    case "tombstones" => IndexIVF.tombstonesSchema
    case other => throw new IllegalArgumentException(s"unknown table $other")
  }

  /** Epoch-ceiling filter for snapshot handles: rows appended after the
    * snapshot epoch are invisible (pre-epoch files coalesce to 0 = always
    * visible). Identity on writable handles — no plan change. */
  private def snap(df: DataFrame): DataFrame = snapshotEpoch match {
    case Some(e) => df.filter(coalesce(col("epoch"), lit(0L)) <= e)
    case None => df
  }

  def postingsDf: DataFrame = live(snap(readTable("postings", IndexIVF.postingsSchema)))
  def scalarsDf: DataFrame = live(snap(readTable("scalars", IndexIVF.scalarsSchema)))
  def contextDf: DataFrame = live(snap(readTable("context", IndexIVF.contextSchema)))
  def docsDf: DataFrame = live(snap(readTable("docs", IndexIVF.docsSchema(schema))))

  /** On a snapshot handle, tombstones AFTER the ceiling don't exist yet
    * (an epoch-less tombstone predates the epoch machinery and is visible
    * in every snapshot). */
  def tombstonesDf: DataFrame = {
    val t = readTable("tombstones", IndexIVF.tombstonesSchema)
    snapshotEpoch match {
      case Some(e) => t.filter(col("epoch").isNull || col("epoch") <= e)
      case None => t
    }
  }

  /** Does a tombstones table exist on disk right now? A filesystem metadata
    * probe (no Spark job) per plan build — microseconds locally, one RPC on
    * a remote store — deliberately NOT cached so a concurrent writer
    * instance's removeDeferred is visible to every reader immediately. */
  private def hasTombstones: Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p("tombstones")), spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(p("tombstones")))
  }

  /** THE single read-path funnel: all table reads pass through here, so the
    * delete strategy is swappable in one place (SURVEY §7.5.5). With no
    * tombstones on disk (the default — [[remove]] rewrites physically) this
    * is an identity and adds nothing to the plan; after [[removeDeferred]]
    * it is an anti-join against the tombstone table — left UNHINTED so the
    * planner broadcasts the usual metadata-sized table but falls back to a
    * shuffle join when a bulk-delete pipeline has parked more tombstones
    * than a broadcast can carry (same reasoning as [[compact]]).
    *
    * Epoch-aware: a tombstone hides only rows written at or before its own
    * epoch (see [[nextEpoch]]), so rows re-added AFTER a pending deferred
    * delete stay visible. The <= rides as a residual condition on the same
    * (tenant, doc_id) equi-join — no plan-shape change. Nulls (pre-v3
    * files) coalesce to the old kill-everything semantics. */
  private def live(df: DataFrame): DataFrame =
    if (!hasTombstones) df
    else {
      val t = tombstonesDf.select(col("tenant").as("t_tenant"),
        col("doc_id").as("t_doc"),
        coalesce(col("epoch"), lit(Long.MaxValue)).as("t_epoch"))
      df.join(t,
        df("tenant") === t("t_tenant") && df("doc_id") === t("t_doc") &&
          coalesce(df("epoch"), lit(0L)) <= t("t_epoch"),
        "left_anti")
    }

  def isTrained(field: String): Boolean = coarse.contains(field)

  // ---------------------------------------------------------------- train

  /** Learn coarse centroids per tensor field, then train the residual codec
    * on (a sqrt-subsample of) centroid residuals — reference
    * lintdb/index.cpp:198-315. Coarse k-means is [[CoarseQuantizer.train]]:
    * one distributed pass collects a bounded seeded sample (≤ K·256 vectors,
    * the Faiss bound the reference inherits), then Lloyd's runs driver-local
    * with its O(sample·K·d) assignment term on the SIMD score kernel across
    * all cores — the shape of the reference's in-process Faiss training.
    * Residuals and per-dim averages are DataFrame aggs; only the dim-length
    * quantile computation happens on the driver.
    *
    * A field whose coarse quantizer is already present (via
    * [[IndexIVF.copyTrained]]) keeps it and trains only the residual codec —
    * the clone-from-trained flow of lintdb/index.cpp:76-90. */
  def train(docs: DataFrame): Unit = withWriteLock {
    requireWritable()
    // one model epoch per train() call: every model file this call saves is
    // ALSO stamped into _meta/history/<epoch>/ so a later openAt() can load
    // the model that was in effect at its snapshot epoch (a retrain between
    // snapshots must not silently change a snapshot's scores)
    val modelEpoch = nextEpoch()
    // Two-phase journaled model save: train() writes several model files
    // (per field: centroids + codec) with no table rows to vacuum, so the
    // append journal's row-targeted recovery cannot cover it. Phase A
    // saves EVERY file into the epoch's history stamp dir only — current
    // files untouched; after the journal flips to stamped=true, phase B
    // copies the completed stamp over the current files. A crash in phase
    // A rolls BACK at recovery (delete the partial stamp); a crash in
    // phase B rolls FORWARD (re-copy the complete stamp — idempotent file
    // copies). Either way `_meta/<f>` and `_meta/history/<epoch>/<f>` can
    // never diverge — the torn state the r13 audit flagged.
    recoverPending() // same no-clobber rule as journaled()
    Json.write(pendingPath, Map("op" -> "train", "epoch" -> modelEpoch))
    // snapshot the in-memory model maps: the rollback below restores disk
    // to the pre-call state, and the handle's coarse/quantizers must roll
    // back WITH it — trainBody mutates them per field, and a later add()
    // on this handle would otherwise encode against a model that exists
    // nowhere on disk (silently wrong scores after reopen)
    val coarseBefore = coarse
    val quantizersBefore = quantizers
    def saveStamped(fileName: String)(save: String => Unit): Unit =
      save(p(s"_meta/history/$modelEpoch/$fileName"))
    try {
      trainBody(docs, saveStamped)
      // the stamped flip sits INSIDE the rollback scope: if this write
      // itself fails, the journal still reads unstamped, so the next
      // recovery rolls the completed stamp BACK — and the in-memory maps
      // must roll back with it, same as a trainBody failure
      Json.write(pendingPath,
        Map("op" -> "train", "epoch" -> modelEpoch, "stamped" -> true))
    } catch {
      case e: Throwable =>
        coarse = coarseBefore
        quantizers = quantizersBefore
        try {
          deleteDirIfExists(p(s"_meta/history/$modelEpoch"))
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(pendingPath))
        } catch { case r2: Throwable => e.addSuppressed(r2) }
        throw e
    }
    // phase B: copy the completed stamp over the current files — shared
    // with recoverPending's roll-forward so the two can never drift. If a
    // copy throws here, the stamped=true journal stays for the next
    // journaled op / open() to roll forward; the in-memory model already
    // matches the stamp, so this handle stays consistent either way.
    copyStampOverCurrent(modelEpoch)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(pendingPath))
  }

  /** Phase-B / roll-forward primitive: copy every file of a completed
    * history stamp over the current `_meta/` model files (idempotent). */
  private def copyStampOverCurrent(epoch: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val stampDir = java.nio.file.Paths.get(p(s"_meta/history/$epoch"))
    val s = java.nio.file.Files.list(stampDir)
    try s.iterator().asScala.foreach { f =>
      java.nio.file.Files.copy(f,
        java.nio.file.Paths.get(p(s"_meta/${f.getFileName}")),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  /** Recursively delete a directory if present (stamp-dir rollback). */
  private def deleteDirIfExists(dir: String): Unit = {
    val d = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(d)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(d)
      try walk.iterator().asScala.toVector.reverse
        .foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  private def trainBody(docs: DataFrame,
      saveStamped: String => (String => Unit) => Unit): Unit = {
    schema.tensorFields.foreach { f =>
      val params = f.parameters
      require(params.numCentroids > 0, s"${f.name}: numCentroids required to train")
      val tokens = docs.select(explode(col(f.name)).as("vec"))
      val cq = coarse.getOrElse(f.name, {
        val fresh = CoarseQuantizer.train(tokens, params.numCentroids, params.numIterations)
        coarse += f.name -> fresh
        fresh
      })
      saveStamped(s"${f.name}.centroids.json")(cq.save)

      // sqrt-subsample above 1e5 embeddings (index.cpp:260-280); residuals
      // computed executor-side against broadcast centroids. Assignment runs
      // through the GEMM-shaped block kernel in partition-local chunks —
      // per-token scans of the whole centroid matrix are the O(sample*K)
      // term of codec training once K grows with the corpus (bit-identical
      // ids either way, CoarseQuantizerSpec)
      def sampledResiduals: DataFrame = {
        val n = tokens.count()
        val sampled = if (n > 1e5.toLong)
          tokens.sample(withReplacement = false, math.sqrt(n.toDouble) / n, 42L)
        else tokens
        val bc = spark.sparkContext.broadcast(cq)
        import spark.implicits._
        sampled.select(col("vec")).as[Seq[Float]].mapPartitions { it =>
          val cq = bc.value
          val d = cq.dim
          it.grouped(1024).flatMap { chunk =>
            val m = chunk.length
            val flat = new Array[Float](m * d)
            var i = 0
            while (i < m) {
              val v = chunk(i)
              require(v.length == d,
                s"token vector has length ${v.length}, expected dim $d")
              var j = 0
              while (j < d) { flat(i * d + j) = v(j); j += 1 }
              i += 1
            }
            val assigned = cq.assignBlock(flat, m)
            chunk.indices.map { i =>
              cq.residual(java.util.Arrays.copyOfRange(flat, i * d, (i + 1) * d),
                assigned(i)).toSeq
            }
          }
        }.toDF("r")
      }

      // a preset residual codec (clone-from-trained, or a deterministic
      // model installed the way preset coarse centroids are) is kept and
      // saved, mirroring the coarse skip-path above — lintdb/index.cpp:76-90
      val quant: Quantizer = quantizers.get(f.name) match {
        case Some(preset) =>
          preset match {
            case b: Binarizer => saveStamped(s"${f.name}.binarizer.json")(b.save)
            case pe: ProductEncoder => saveStamped(s"${f.name}.pq.json")(pe.save)
            case sq: ScalarQuantizer8 => saveStamped(s"${f.name}.sq8.json")(sq.save)
            case _ =>
          }
          preset
        case None => params.quantizerKind match {
        case QuantizerKind.NONE => IdentityQuantizer(params.dimensions)
        case QuantizerKind.BINARIZER =>
          // per-dim average residual, distributed (train input of
          // Binarizer.cpp:60-85 is reduced to a dim-length vector); a
          // treeAggregate over the vector column sums arrays in place — one
          // job, no 64x posexplode row blowup, no shuffle
          val dim = params.dimensions
          require(dim > 0, s"${f.name}: dimensions required to train a binarizer")
          val fieldName = f.name
          val (sums, cnt) = sampledResiduals.select(col("r")).rdd
            .treeAggregate((new Array[Double](dim), 0L))(
              { case ((acc, n), row) =>
                val r = row.getAs[scala.collection.Seq[Float]](0)
                if (r.length != dim) throw new IllegalArgumentException(
                  s"$fieldName: token vector has length ${r.length}, schema dimensions=$dim")
                var i = 0
                while (i < dim) { acc(i) += r(i); i += 1 }
                (acc, n + 1)
              },
              { case ((a, na), (b, nb)) =>
                var i = 0
                while (i < dim) { a(i) += b(i); i += 1 }
                (a, na + nb)
              })
          require(cnt > 0, s"${f.name}: no residuals to train the binarizer on")
          val b = Binarizer.train(sums.map(s => (s / cnt).toFloat), params.nbits)
          saveStamped(s"${f.name}.binarizer.json")(b.save)
          b
        case QuantizerKind.SQ8 =>
          // per-dim (min, max) over the residual sample, distributed —
          // the same two-dim-length-vector reduction shape as the
          // binarizer's average-residual treeAggregate
          val dim = params.dimensions
          require(dim > 0, s"${f.name}: dimensions required to train SQ8")
          val fieldName = f.name
          val init = (Array.fill(dim)(Float.PositiveInfinity),
            Array.fill(dim)(Float.NegativeInfinity), 0L)
          val (mins, maxs, cnt) = sampledResiduals.select(col("r")).rdd
            .treeAggregate(init)(
              { case ((lo, hi, n), row) =>
                val r = row.getAs[scala.collection.Seq[Float]](0)
                if (r.length != dim) throw new IllegalArgumentException(
                  s"$fieldName: token vector has length ${r.length}, schema dimensions=$dim")
                var i = 0
                while (i < dim) {
                  val v = r(i)
                  if (v < lo(i)) lo(i) = v
                  if (v > hi(i)) hi(i) = v
                  i += 1
                }
                (lo, hi, n + 1)
              },
              { case ((la, ha, na), (lb, hb, nb)) =>
                var i = 0
                while (i < dim) {
                  if (lb(i) < la(i)) la(i) = lb(i)
                  if (hb(i) > ha(i)) ha(i) = hb(i)
                  i += 1
                }
                (la, ha, na + nb)
              })
          require(cnt > 0, s"${f.name}: no residuals to train SQ8 on")
          val sq = ScalarQuantizer8.train(mins, maxs)
          saveStamped(s"${f.name}.sq8.json")(sq.save)
          sq
        case QuantizerKind.PRODUCT_ENCODER =>
          // bounded: sampledResiduals is the sqrt-subsample built above —
          // driver-sized by construction; PQ codebook training is the only
          // driver-side ML step (index.cpp:290-307)
          val sample = sampledResiduals.collect()
            .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
          // graft.pq.balanced=false keeps the classic contiguous subspace
          // split (measurement hatch; default is the variance-balanced perm)
          val balance = spark.conf.getOption("graft.pq.balanced")
            .forall(_.toBoolean)
          val pe = ProductEncoder.train(sample, m = params.numSubquantizers,
            balance = balance)
          saveStamped(s"${f.name}.pq.json")(pe.save)
          pe
        }
      }
      quantizers += f.name -> quant
    }
  }

  // ------------------------------------------------------------------ add

  /** Ingest a DataFrame of documents: one row per doc, column `id` plus one
    * column per schema field (TENSOR fields as array<array<float>>).
    * The reference's per-doc OpenMP pipeline (DocProcessor.cpp:36-181)
    * becomes one declarative pipeline per field: explode tokens -> broadcast
    * argmax centroid assignment -> residual-codec encode -> regroup per doc.
    * Matching the reference quirk, the codec encodes the RAW token vector,
    * not the residual (DocProcessor.cpp:209-229; SURVEY §3.2). */
  def add(tenant: Long, docs: DataFrame): Unit = withWriteLock {
    addImpl(tenant, docs, assignProbes = 0)
  }

  /** MEASUREMENT-HARNESS-ONLY twin of [[add]] with approximate centroid
    * assignment: probes > 0 routes the encode pass through a two-level
    * grouped scan ([[graft.quantizers.CoarseQuantizer.TwoLevelPlan.buildIp]]
    * — argmax-IP over the top-`probes` of ~sqrt(K) centroid groups, exact
    * IP inside them) instead of the exhaustive argmax, cutting the
    * O(tokens·K·dim) ingest term ~K/(2·sqrt(K)·probes)-fold. A token
    * assigned to a non-argmax centroid lands in a different posting list;
    * the codes encode the RAW token vector, not the residual (reference
    * quirk, DocProcessor.cpp:209-229), so approximation moves only which
    * posting list a token lives in — no score anywhere changes, which is
    * the search-invariance guarantee TwoLevelAssignSpec pins.
    * Deterministic for a fixed (model, probes).
    *
    * DEMOTED from a production conf knob (`spark.graft.add.assignProbes`,
    * r16 verdict item 4) on three receipts: r15 measured an 18-27 pp
    * success@5 loss on BOTH corpus geometries at every probes setting; r16
    * showed the loss is width-invariant (4/32/120 tok/doc) with the SAME
    * docs misrouting at every width (cluster-mean-driven, not noise). No
    * measured setting is production-safe, so the production [[add]] path
    * carries no approximate-assignment branch; this entry point exists for
    * the prof-harness assign_study arms only (ProfMain), which keep the
    * quality frontier measurable. The reference assigns exhaustively
    * (CoarseQuantizer.cpp:108-110) and `q_ivf_assign` + every engine
    * `_oracle` lifecycle pin exact argmax. */
  private[graft] def addWithApproxAssignForHarness(tenant: Long,
      docs: DataFrame, assignProbes: Int): Unit = withWriteLock {
    require(assignProbes > 0, "harness entry point requires probes > 0; " +
      "production ingest uses add() (exact assignment, no knob)")
    addImpl(tenant, docs, assignProbes)
  }

  private def addImpl(tenant: Long, docs: DataFrame, assignProbes: Int): Unit = {
    val unknown = docs.columns.filterNot(c => c == "id" || schema.fields.exists(_.name == c))
    require(unknown.isEmpty, s"unknown fields: ${unknown.mkString(",")}")
    // one write epoch per add(): every row of this ingest is stamped with it
    // so a pending deferred tombstone (necessarily at an earlier epoch)
    // cannot hide or compact away these rows
    val epoch = nextEpoch()
    // Independent table writes run as concurrent Spark actions, KEYED BY
    // TARGET TABLE: writes to different directories have no ordering
    // constraint, and overlapping their jobs hides per-write planning/commit
    // latency (driver-side dead time that would otherwise serialize; on a
    // cluster the writes also overlap their IO). Two appends to the SAME
    // table (a second tensor field's postings, a context-only field's
    // context rows) must NOT overlap — concurrent Hadoop committers share
    // the table's _temporary staging dir and the first commit would destroy
    // the second's pending files — so runConcurrently chains same-table
    // writes sequentially within one lane.
    val writes = scala.collection.mutable.ArrayBuffer.empty[(String, () => Unit)]
    val toUnpersist = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // type validation against the schema (reference DocProcessor::validateField
    // throws on type mismatch, DocProcessor.cpp:47-52) — fail early with a
    // field-named error instead of a downstream writer cast or UDF error
    schema.fields.filter(f => docs.columns.contains(f.name)).foreach { f =>
      val actual = docs.schema(f.name).dataType
      val expected = sparkType(f)
      require(actual.simpleString == expected.simpleString, // ignores nullability
        s"field ${f.name}: expected ${expected.simpleString}, got ${actual.simpleString}")
    }

    schema.tensorFields.foreach { f =>
      require(isTrained(f.name), s"field ${f.name} is not trained")
      val fid = mapper.id(f.name)
      val bc = spark.sparkContext.broadcast(coarse(f.name))
      val bq = spark.sparkContext.broadcast(quantizers(f.name))
      // harness-only approximate assignment (see
      // [[addWithApproxAssignForHarness]] — production add() always passes
      // 0 = the exact exhaustive scan): the grouped plan is built on the
      // driver (seeded lloyd over the K centroids, O(K·sqrt(K)·dim) —
      // seconds at any K), cached per (field, probes) while the model
      // instance is unchanged so trickle harness arms don't pay it per
      // micro-batch, and broadcast per call
      val bcPlan =
        if (assignProbes <= 0) None
        else {
          val cq0 = coarse(f.name)
          Some(addPlans.get((f.name, assignProbes), cq0) {
            spark.sparkContext.broadcast(CoarseQuantizer.TwoLevelPlan
              .buildIp(cq0.centroids, assignProbes, seed = 42L))
          })
        }

      if (f.needsContext) {
        // ONE narrow map per doc: the input row already holds the doc's
        // token list, so assignment + encoding iterate it in place — no
        // token-level posexplode, no regroup shuffle, no sort (array order
        // IS pos order). This is the same per-document shape as the
        // reference's DocProcessor loop (DocProcessor.cpp:36-181), and at
        // 100 TB it replaces a full token-level shuffle with zero shuffles.
        val encodeDoc = udf { (toks: Seq[Seq[Float]]) =>
          val cq = bc.value; val q = bq.value
          val n = toks.length
          val d = cq.dim
          // one flattened (n x dim) block per doc: assignment runs through
          // the GEMM-shaped kernel (centroid tile stays cache-resident
          // across the doc's tokens) instead of n independent scans of the
          // whole centroid matrix — the O(n*K) term of ingest once K∝corpus
          val flat = new Array[Float](n * d)
          var i = 0
          while (i < n) {
            val t = toks(i)
            require(t.length == d,
              s"token vector has length ${t.length}, expected dim $d")
            var j = 0
            while (j < d) { flat(i * d + j) = t(j); j += 1 }
            i += 1
          }
          val assigned = bcPlan match {
            case Some(pb) => pb.value.decideFlat(flat, n)
            case None => cq.assignBlock(flat, n)
          }
          val codes = new Array[Long](n)
          val residuals = new java.io.ByteArrayOutputStream(n * q.codeSize)
          i = 0
          while (i < n) {
            codes(i) = assigned(i).toLong
            residuals.write(q.encode(java.util.Arrays.copyOfRange(flat, i * d, (i + 1) * d)))
            i += 1
          }
          (codes.toSeq, residuals.toByteArray)
        }
        // null tensor value => no tokens => no context/posting rows for that
        // doc (the old posexplode emitted zero rows for null; the UDF would
        // NPE instead, so filter first — stored/scalar rows are unaffected)
        val ctx = docs.filter(col(f.name).isNotNull)
          .select(lit(tenant).as("tenant"), lit(fid).as("field"),
            col("id").as("doc_id"), encodeDoc(col(f.name)).as("enc"))
          .select(col("tenant"), col("field"), col("doc_id"),
            col("enc._1").as("doc_codes"), col("enc._2").as("doc_residuals"),
            lit(epoch).as("epoch"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // ONE probe job feeds BOTH size gates (and doubles as the persist
        // materializer): context bytes priced exactly as writeContext's
        // internal probe, plus the EXACT postings row count (sum of per-doc
        // distinct code counts). The 10M-doc SQ8 build proved the optimizer
        // can under-measure the exploded postings frame >3x, routing a
        // 39M-row write through the single-task small-add path — measured
        // rows x SmallAddPostingRowBytes replaces the estimate. Scala lazy
        // val is synchronized, so whichever concurrent write runs first
        // pays the probe exactly once.
        lazy val probe: (Long, Long) = {
          val r = ctx.select(
            coalesce(sum(coalesce(octet_length(col("doc_residuals")), lit(0)).cast("long") +
              coalesce(size(col("doc_codes")), lit(0)).cast("long") * 8L + 64L), lit(0L)),
            coalesce(sum(coalesce(size(array_distinct(col("doc_codes"))), lit(0))
              .cast("long")), lit(0L)))
            .first()
          (r.getLong(0), r.getLong(1))
        }
        writes += ("context" -> (() => writeContext(ctx,
          measuredBytes = Some(probe._1))))
        // one posting row per doc x centroid (DocEncoder.cpp:71-104 groups
        // token codes per centroid; the posting payload itself is empty for
        // Colbert fields — codes live in context). Both writes read the
        // persisted ctx; concurrent materialization of a persisted frame is
        // safe (and the encode UDF is cheap relative to the write latency it
        // hides).
        writes += ("postings" -> (() => writePostings(
          ctx.select(col("tenant"), col("field"),
            explode(array_distinct(col("doc_codes"))).as("centroid"), col("doc_id"),
            col("epoch")),
          measuredBytes = Some(BigInt(probe._2) * IndexIVF.SmallAddPostingRowBytes))))
        toUnpersist += ctx
      } else {
        // Indexed-only tensor field: postings only, no context table. The
        // per-doc array_distinct replaces the old token-level distinct()
        // shuffle (cross-doc rows can't collide — doc_id differs).
        val assignAll = udf { (toks: Seq[Seq[Float]]) =>
          val cq = bc.value
          val n = toks.length
          val d = cq.dim
          val flat = new Array[Float](n * d)
          var i = 0
          while (i < n) {
            val t = toks(i)
            require(t.length == d,
              s"token vector has length ${t.length}, expected dim $d")
            var j = 0
            while (j < d) { flat(i * d + j) = t(j); j += 1 }
            i += 1
          }
          (bcPlan match {
            case Some(pb) => pb.value.decideFlat(flat, n)
            case None => cq.assignBlock(flat, n)
          }).toSeq.map(_.toLong)
        }
        writes += ("postings" -> (() => writePostings(
          docs.filter(col(f.name).isNotNull)
            .select(lit(tenant).as("tenant"), lit(fid).as("field"),
              explode(array_distinct(assignAll(col(f.name)))).as("centroid"),
              col("id").as("doc_id"), lit(epoch).as("epoch")))))
      }
    }

    // Context-only TENSOR fields: no postings, no centroid assignment — the
    // raw token vectors go to the context table for scoring (reference
    // DocProcessor.cpp:72-101 stores Context-role fields in the context CF).
    // doc_codes is empty; doc_residuals holds the identity-encoded tokens.
    schema.contextOnlyTensorFields.filter(f => docs.columns.contains(f.name)).foreach { f =>
      val fid = mapper.id(f.name)
      val payload: org.apache.spark.sql.Column =
        if (f.dtype == GDataType.QUANTIZED_TENSOR) col(f.name) // already bytes
        else {
          require(f.parameters.dimensions > 0,
            s"${f.name}: dimensions required for a Context TENSOR field")
          val bq = spark.sparkContext.broadcast(
            quantizers.getOrElse(f.name, IdentityQuantizer(f.parameters.dimensions)))
          val encodeAll = udf { (vecs: Seq[Seq[Float]]) =>
            val out = new java.io.ByteArrayOutputStream()
            vecs.foreach(v => out.write(bq.value.encode(v.toArray)))
            out.toByteArray
          }
          encodeAll(col(f.name))
        }
      // persisted for the same reason as the tensor-field ctx: writeContext
      // probes the encoded size with one aggregate before writing, and the
      // cache keeps the encode UDF from running twice
      val ctx = docs.filter(col(f.name).isNotNull).select(
        lit(tenant).as("tenant"), lit(fid).as("field"), col("id").as("doc_id"),
        array().cast(ArrayType(LongType)).as("doc_codes"),
        payload.as("doc_residuals"), lit(epoch).as("epoch"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      toUnpersist += ctx
      writes += ("context" -> (() => writeContext(ctx)))
    }

    val scalarRows = schema.scalarIndexed.filter(f => docs.columns.contains(f.name)).map { f =>
      val fid = mapper.id(f.name)
      val vs = canonicalString(f, col(f.name))
      val vn = canonicalNum(f, col(f.name))
      docs.filter(col(f.name).isNotNull).select(
        lit(tenant).as("tenant"), lit(fid).as("field"),
        vs.as("value_str"), vn.as("value_num"), col("id").as("doc_id"),
        lit(epoch).as("epoch"))
    }
    if (scalarRows.nonEmpty)
      writes += ("scalars" -> (() => writeScalars(scalarRows.reduce(_ unionByName _))))

    val stored = schema.storedFields.filter(f => docs.columns.contains(f.name))
    if (stored.nonEmpty) {
      // DATETIME stored fields normalize to TimestampType on the way in
      // (no-op cast when already normal) so the docs table never persists a
      // TIMESTAMP_NTZ column that a later reader would have to special-case.
      val d = docs.select(lit(tenant).as("tenant") +: col("id").as("doc_id") +:
        stored.map(f =>
          if (f.dtype == GDataType.DATETIME) col(f.name).cast(TimestampType).as(f.name)
          else col(f.name)) :+ lit(epoch).as("epoch"): _*)
      writes += ("docs" -> (() => writeDocs(d)))
    }

    try journaled("add", epoch) { runConcurrently(writes.toSeq) }
    finally toUnpersist.foreach(_.unpersist())
  }

  /** Run write actions concurrently ACROSS tables, sequentially WITHIN a
    * table (two appends to one directory would race on the shared Hadoop
    * committer staging dir). The first failure propagates after every lane
    * completes or fails. Each lane runs its jobs under the caller's job
    * group: a pooled thread otherwise keeps the Spark local properties of
    * whoever created it, so the lanes' jobs would be attributed to (and
    * cancelled with) a stale group. */
  private def runConcurrently(actions: Seq[(String, () => Unit)]): Unit =
    if (actions.length <= 1) actions.foreach(_._2.apply())
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val sc = spark.sparkContext
      val groupKeys = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel")
      val callerGroup = groupKeys.map(key => key -> sc.getLocalProperty(key))
      def withGroup(props: Seq[(String, String)]): Unit =
        props.foreach { case (key, v) => sc.setLocalProperty(key, v) }
      val lanes = actions.groupBy(_._1).values.toSeq.map(_.map(_._2))
      val futs = lanes.map(lane => Future {
        val poolGroup = groupKeys.map(key => key -> sc.getLocalProperty(key))
        withGroup(callerGroup)
        try lane.foreach(_.apply())
        finally withGroup(poolGroup)
      })
      // await each so every job finishes (or fails) before add() returns
      val results = futs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      results.collectFirst { case scala.util.Failure(e) => throw e }
      ()
    }

  // ------------------------------------------------------- remove / update

  /** Immediate delete: targeted partition rewrite of only the hive
    * partitions holding the victim rows (reference: targeted key deletes
    * via the mapping CF, RocksdbInvertedList.cpp:22-95 — see
    * [[compactTable]] for how the partition layout plays the mapping's
    * role). Matches remove-then-re-add semantics exactly; the 100 TB bulk
    * alternative is [[removeDeferred]] + [[compact]] (tombstones), and both
    * strategies meet the read path in the single [[live]] funnel. */
  def remove(tenant: Long, ids: Seq[Long]): Unit = withWriteLock {
    import spark.implicits._
    // SAFETY TOMBSTONE FIRST (journaled): the physical rewrites below span
    // four tables, and a crash between table swaps would otherwise expose a
    // half-deleted doc (postings gone, stored fields still hydratable, or
    // vice versa). Appending an epoch-stamped tombstone before touching any
    // data makes every intermediate state read-correct — the victims are
    // masked by [[live]] from this commit on, and a crash at any later
    // point just leaves a pending tombstone the next compact() discharges.
    // The append itself is all-or-nothing under the journal, and "kill
    // rows with epoch <= E_now" equals the old kill-every-epoch semantics
    // because no live row can carry a later epoch than the counter.
    val epoch = nextEpoch()
    journaled("remove", epoch) {
      writeAppend(ids.toDF("doc_id").select(lit(tenant).as("tenant"),
        col("doc_id"), lit(epoch).as("epoch")),
        p("tombstones"), Seq("tenant"))
    }
    val tombs = ids.toDF("t_doc")
      .select(lit(tenant).cast("long").as("t_tenant"), col("t_doc").cast("long"),
        lit(epoch).as("t_epoch"))
    Seq("postings", "scalars", "context", "docs").foreach { tbl =>
      compactTable(p(tbl), tableParts(tbl), tombs)
    }
    // the victims' rows are now physically gone: snapshots below this epoch
    // can no longer be reproduced, so refuse them from here on. FLOOR
    // BEFORE DISCHARGE (same ordering argument as compact()): a crash
    // after this line leaves the safety tombstone still masking the
    // already-gone victims — conservative — while the reverse order had a
    // window where the tombstone was discharged but the floor not yet
    // raised, so openAt(pre-remove epoch) silently served partial tables.
    raiseHistoryFloor(epoch)
    // a physical remove also discharges any pending tombstone for these ids
    // (the safety one above AND stale earlier ones): otherwise
    // remove-then-re-add (and update(), which is exactly that)
    // would leave a stale tombstone that hides — and at the next compact()
    // destroys — the re-added rows
    if (hasTombstones) {
      val idSet = ids.toSet
      val bcIds = spark.sparkContext.broadcast(idSet)
      val keep = udf((t: Long, d: Long) => !(t == tenant && bcIds.value.contains(d)))
      rewrite(p("tombstones"), df => df.filter(keep(col("tenant"), col("doc_id"))),
        Seq("tenant"))
      // if that discharged the last tombstone, drop the (now empty) table so
      // reads go back to the no-anti-join fast path and the next compact()
      // doesn't rewrite every table against an empty delete set
      if (tombstonesDf.isEmpty) {
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(p("tombstones")), spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(p("tombstones")), true)
      }
    }
  }

  /** Deferred delete — the 100 TB path: append the ids to a tombstone table
    * (a metadata-sized write) and let every read anti-join them out via
    * [[live]]; [[compact]] later applies the deletes physically. This is
    * O(ids) instead of O(tenant partition) per delete, which is what makes
    * deletes viable when the postings table is tens of TB.
    *
    * Epoch-stamped: the tombstone kills only rows written at or before its
    * own epoch, so removeDeferred(id) -> add(id) -> compact() keeps the
    * re-added doc (its rows carry a later epoch) — read-modify-write is safe
    * on the deferred path too, matching the reference's synchronous mapping-CF
    * deletes (RocksdbInvertedList.cpp:22-95) which never had the window. */
  def removeDeferred(tenant: Long, ids: Seq[Long]): Unit = withWriteLock {
    import spark.implicits._
    val epoch = nextEpoch()
    journaled("removeDeferred", epoch) {
      writeAppend(ids.toDF("doc_id").select(lit(tenant).as("tenant"), col("doc_id"),
        lit(epoch).as("epoch")),
        p("tombstones"), Seq("tenant"))
    }
  }

  /** Apply pending tombstones physically (partition rewrite per table) and
    * clear the tombstone table — the periodic compaction job of the
    * tombstone design. Stop-the-world for in-flight readers of this index:
    * see the class-level reader-vs-maintenance isolation contract. */
  def compact(): Unit = withWriteLock {
    if (!hasTombstones) return
    // anti-join form, NOT a collected id set: a bulk-delete pipeline (the
    // stated use of removeDeferred) can park 1e8 tombstones here, far past
    // driver memory. Left unhinted, the planner broadcasts the tombstone
    // side only when it actually is small and shuffle-joins otherwise.
    // Partition-column values (tenant) read back type-inferred — cast.
    val tombs = tombstonesDf.select(
      col("tenant").cast("long").as("t_tenant"),
      col("doc_id").cast("long").as("t_doc"),
      coalesce(col("epoch"), lit(Long.MaxValue)).as("t_epoch"))
    Seq("postings", "scalars", "context", "docs").foreach { tbl =>
      compactTable(p(tbl), tableParts(tbl), tombs)
    }
    // tombstone-masked history is now physically applied: a snapshot taken
    // between a removeDeferred and this compact would resurrect rows that
    // no longer exist, so every epoch below the counter is now invalid.
    // FLOOR BEFORE DISCHARGE: raising the floor first makes the crash
    // window between these two steps conservative — a crash leaves the
    // floor raised (stale snapshots refused) with the tombstones still
    // masking already-deleted rows (a no-op), and the next compact()
    // finds no doomed rows, discharges, and re-raises idempotently. The
    // reverse order had an unsound window: tombstones gone, floor not yet
    // raised, so openAt(pre-compact epoch) would silently serve the
    // compacted tables with the victims missing (TombstoneOrderingSpec).
    raiseHistoryFloor(currentEpoch())
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p("tombstones")), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p("tombstones")), true)
  }

  /** Targeted compaction of one table: only hive partitions that actually
    * contain tombstoned rows are rewritten; every other partition's files
    * are left untouched. This is the Spark analogue of the reference's
    * materialized doc->centroid mapping for targeted deletes
    * (DocEncoder.cpp:238-263, read at RocksdbInvertedList.cpp:97-117): the
    * mapping is the table's own partition layout, and the affected-partition
    * discovery is a column-pruned scan (partition cols + doc_id only), so
    * compaction IO is O(affected partitions), not O(table). */
  private def compactTable(tablePath: String, parts: Seq[String],
      tombs: DataFrame): Unit = {
    def cond(d: DataFrame) =
      d("tenant").cast("long") === tombs("t_tenant") &&
        d("doc_id").cast("long") === tombs("t_doc") &&
        coalesce(d("epoch"), lit(0L)) <= tombs("t_epoch")
    rewritePartitionsWhere(tablePath, parts,
      doomed = df => df.join(tombs, cond(df), "left_semi"),
      survivors = df => df.join(tombs, cond(df), "left_anti"))
  }

  /** Shared targeted-rewrite core (used by [[compactTable]] and
    * [[vacuumEpoch]]): rewrite only the hive partitions that contain doomed
    * rows — `doomed` restricts a table frame to the rows to delete,
    * `survivors` to the rows to keep — or fall back to a whole-table
    * rewrite past the partition-count guard. Every rewrite restores the
    * table's within-file ordering and goes through the crash-safe
    * [[swapDir]]. */
  private def rewritePartitionsWhere(tablePath: String, parts: Seq[String],
      doomed: DataFrame => DataFrame,
      survivors: DataFrame => DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(tablePath), conf)
    val orig = new org.apache.hadoop.fs.Path(tablePath)
    if (!fs.exists(orig)) return
    val tblName = tablePath.substring(tablePath.lastIndexOf('/') + 1)
    // declared schema, not inference: a pre-v3 index appended to by this
    // build mixes files with and without the epoch column, and footer
    // inference would resolve the column only if it sampled the right file
    val source =
      try Some(spark.read.schema(tableSchema(tblName)).parquet(tablePath))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    source.foreach { df =>
      // partitions holding at least one doomed row (small driver set —
      // bounded: the distinct() over the hive `parts` key columns yields
      // one row per affected partition directory, not per doomed row)
      val affected = doomed(df)
        .select(parts.map(col): _*).distinct().collect()
        .map { r =>
          parts.indices.map { i =>
            val v = r.get(i)
            // the 'col=value' strings below are matched against hive
            // directory names WITHOUT escaping — sound only because every
            // partition column (tenant/field/centroid_bucket, see
            // tableParts) is a non-null integer. Guard the invariant so a
            // future string/null partition column fails loudly here instead
            // of silently skipping or mis-swapping a directory.
            require(v != null && v.toString.matches("-?\\d+"),
              s"compactTable: partition column ${parts(i)} has non-integer " +
                s"value '$v'; the unescaped path matching below only " +
                "supports numeric partition columns")
            s"${parts(i)}=$v"
          }
        }
      // Rewrites MUST restore each table's within-file ordering (the
      // anti-join may plan as a shuffle join, which would otherwise emit
      // shuffle-ordered files and silently kill row-group pruning for
      // every later probe). Sort keys lead with the partition columns —
      // see tableSort's scaladoc on the dynamic-partition writer.
      def sorted(d: DataFrame): DataFrame = {
        val keys =
          if (parts.contains("centroid_bucket")) parts :+ "centroid"
          else tableSort(tblName)
        if (keys.isEmpty) d
        else d.repartition(parts.map(col): _*).sortWithinPartitions(keys.map(col): _*)
      }
      val tmp = new org.apache.hadoop.fs.Path(tablePath + ".tmp")
      if (affected.isEmpty) {
        // nothing to delete in this table
      } else if (affected.length <= maxTargetedPartitions(spark)) {
        // survivors of ONLY the affected partitions, written to a tmp tree,
        // then swapped in per partition directory
        val inAffected = concat_ws("/", parts.map(c => concat(lit(s"$c="), col(c))): _*)
          .isin(affected.map(_.mkString("/")): _*)
        sorted(survivors(df.filter(inAffected)))
          .write.mode("overwrite").partitionBy(parts: _*).parquet(tmp.toString)
        affected.foreach { tuple =>
          val rel = tuple.mkString("/")
          // a partition whose every row was tombstoned has no tmp dir — the
          // swap then just retires the original (safe even if the retire is
          // interrupted: the pending tombstones still hide the rows, and the
          // next compact() finishes the job)
          swapDir(fs, src = new org.apache.hadoop.fs.Path(s"$tablePath.tmp/$rel"),
            dst = new org.apache.hadoop.fs.Path(s"$tablePath/$rel"))
        }
        fs.delete(tmp, true)
      } else {
        // a bulk delete touching most of the table: the full rewrite IS the
        // right plan (and it avoids a pathological thousands-entry In-list
        // in the partition filter) — whole-table tmp + dir swap
        sorted(survivors(df))
          .write.mode("overwrite").partitionBy(parts: _*).parquet(tmp.toString)
        swapDir(fs, src = tmp, dst = orig)
      }
    }
  }

  /** Crash-safe directory swap: replace `dst` with `src` (or just retire
    * `dst` when `src` does not exist) with no window in which the only copy
    * of the data sits in the `.tmp` tree a later overwrite-mode write would
    * destroy. The pre-swap data moves ASIDE (a dot-prefixed sibling — hidden
    * from Spark/Hadoop file listing, so a stranded aside dir can neither be
    * double-read nor break partition-value parsing), never into tmp: a crash
    * at any point leaves the data in `dst` or the aside dir, and the
    * recovery step at the top of the next swap restores a stranded aside. */
  private def swapDir(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit = {
    val aside = new org.apache.hadoop.fs.Path(dst.getParent, "." + dst.getName + ".old")
    if (fs.exists(aside)) {
      // leftover from a crashed swap: if dst exists the swap completed and
      // the aside copy is superseded; if not, the crash hit between the two
      // renames and the aside copy is the ONLY copy — restore it (this swap
      // then retires it again cleanly)
      if (fs.exists(dst)) fs.delete(aside, true)
      else fs.rename(aside, dst)
    }
    val hadDst = fs.exists(dst)
    if (hadDst) fs.rename(dst, aside)
    if (fs.exists(src)) {
      fs.mkdirs(dst.getParent)
      fs.rename(src, dst)
    }
    if (hadDst) fs.delete(aside, true)
  }

  /** File-count maintenance for trickle ingest: repeated small [[add]]s
    * take the single-sorted-task write path (no shuffle, no micro-file
    * fanout ACROSS buckets) but still append one file per touched partition
    * directory per add — at streaming-ingest rates the tables accumulate
    * micro-files that erode row-group pruning and scan planning. This
    * rewrites every partition directory holding more than `maxFiles` data
    * files down to one file, preserving the within-file centroid sort the
    * postings readers rely on.
    *
    * Scale shape: discovery is a pure FileSystem listing (driver metadata,
    * no data scan), the rewrite reads ONLY the affected directories via a
    * partition-pruned filter, and the swap reuses [[compactTable]]'s
    * tmp-tree + per-directory rename, so a crash mid-compact leaves every
    * original directory intact. IO is O(affected partitions), not O(table).
    * The reference runs RocksDB compactions for the same hygiene
    * (RocksdbInvertedList flush/merge); Parquet-on-object-store needs it
    * as an explicit maintenance op. Stop-the-world for in-flight readers of
    * this index: see the class-level isolation contract.
    *
    * Cadence note for trickle ingest under format v4: a small add writes
    * from ONE task but still emits one file per hive directory it touches,
    * and the v4 bucket levels multiply the touched-directory count (a
    * spread-id micro-batch can touch up to DocBuckets docs dirs and
    * ValueBuckets scalar dirs per indexed field, vs one per table pre-v4).
    * The read-side pruning that bucketing buys costs a proportionally
    * higher micro-file accumulation rate on the write side — size
    * compactFiles cadence by file-count growth (a FileSystem listing, no
    * data scan), not wall-clock. */
  def compactFiles(maxFiles: Int = 1): Unit = withWriteLock {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    Seq("postings", "scalars", "context", "docs").foreach { tbl =>
      compactTableFiles(p(tbl), tableParts(tbl), maxFiles)
    }
  }

  private def compactTableFiles(tablePath: String, parts: Seq[String],
      maxFiles: Int): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(tablePath), conf)
    val orig = new org.apache.hadoop.fs.Path(tablePath)
    if (!fs.exists(orig)) return
    // leaf partition directories, depth = number of hive levels; only
    // 'col=value' dirs count (skips _temporary and friends)
    def leafDirs(dir: org.apache.hadoop.fs.Path, depth: Int): Seq[org.apache.hadoop.fs.Path] =
      if (depth == 0) Seq(dir)
      else fs.listStatus(dir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap(st => leafDirs(st.getPath, depth - 1))
    // listStatus returns fully-qualified paths (file:/... locally) — strip
    // against the qualified root or no relative path ever matches
    val rootQ = fs.makeQualified(orig).toString
    val affected = leafDirs(orig, parts.length).filter { d =>
      fs.listStatus(d).count(st => st.isFile && st.getPath.getName.endsWith(".parquet")) > maxFiles
    }.map(d => fs.makeQualified(d).toString.stripPrefix(rootQ).stripPrefix("/"))
    if (affected.isEmpty) return
    val tblName = tablePath.substring(tablePath.lastIndexOf('/') + 1)
    val source =
      try Some(spark.read.schema(tableSchema(tblName)).parquet(tablePath))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    source.foreach { df =>
      // same unescaped-path matching invariant as compactTable: sound only
      // because every partition column is a non-null integer
      val inAffected = concat_ws("/", parts.map(c => concat(lit(s"$c="), col(c))): _*)
        .isin(affected: _*)
      val one = df.filter(inAffected).repartition(parts.map(col): _*)
      val sortKeys =
        if (parts.contains("centroid_bucket")) parts :+ "centroid"
        else tableSort(tblName)
      val placed =
        if (sortKeys.isEmpty) one
        else one.sortWithinPartitions(sortKeys.map(col): _*)
      val tmp = new org.apache.hadoop.fs.Path(tablePath + ".tmp")
      placed.write.mode("overwrite").partitionBy(parts: _*).parquet(tmp.toString)
      affected.foreach { rel =>
        val src = new org.apache.hadoop.fs.Path(s"$tablePath.tmp/$rel")
        // a rewrite never empties a directory (it only re-packs files), so a
        // missing tmp dir means the partition vanished under us — leave the
        // original alone rather than retiring data we didn't rewrite
        if (fs.exists(src))
          swapDir(fs, src = src, dst = new org.apache.hadoop.fs.Path(s"$tablePath/$rel"))
      }
      fs.delete(tmp, true)
    }
  }

  /** remove + add (reference: lintdb/index.cpp:501-510). The id collect is
    * bounded by a guard: update() is the read-modify-write path for document
    * BATCHES; a bulk rewrite beyond the guard should go through
    * [[removeDeferred]]/[[compact]] + [[add]], which never hold the id set
    * on the driver. */
  def update(tenant: Long, docs: DataFrame): Unit = withWriteLock {
    // guard and id collect in ONE bounded job: the limit caps what ever
    // reaches the driver, and one extra row is enough to detect overflow
    val ids = docs.select(col("id")).limit(UpdateBatchLimit.toInt + 1)
      .collect().map(_.getLong(0)).toSeq
    require(ids.length <= UpdateBatchLimit,
      s"update() called with > $UpdateBatchLimit docs: " +
        "use removeDeferred + compact + add for bulk rewrites")
    remove(tenant, ids)
    add(tenant, docs)
  }

  /** Merge another index's contents (reference: lintdb/index.cpp:512-535 —
    * key-by-key RocksDB copy; here a unionByName append per table). */
  def merge(otherPath: String): Unit = withWriteLock {
    // the other index's tables are read raw — refuse a layout we can't read
    IndexIVF.checkVersion(otherPath)
    // model-compatibility guard: postings centroid ids, codes and residual
    // encodings are only meaningful against the model that produced them —
    // unioning rows from a differently-trained index would mix centroid
    // spaces silently (scores wrong, never a crash). The reference's merge
    // carries the same precondition implicitly: it is only ever reached
    // through the clone flow, which shares the trained model
    // (lintdb/index.cpp:76-90, 512-535). The clone flow here
    // ([[IndexIVF.copyTrained]]) copies the model artifacts byte-for-byte,
    // so it passes; anything else must re-add its corpus through add().
    val mine = IndexIVF.modelFingerprint(spark, path)
    val theirs = IndexIVF.modelFingerprint(spark, otherPath)
    require(mine == theirs,
      s"merge: the index at $otherPath was trained with a different model " +
        s"(field-mapping/centroids/codec fingerprint $theirs vs local $mine); " +
        "merge only unions indexes sharing one trained model — create the " +
        "other side via copyTrained (the clone flow) or re-add its corpus " +
        "through this index's add()")
    // pending LOCAL tombstones are applied first: merge appends rows, and —
    // exactly like the update()-after-removeDeferred hazard — a stale local
    // tombstone would silently hide, then destroy, an imported doc that
    // happens to reuse a tombstoned id
    if (hasTombstones) compact()
    // the other index's pending tombstones are applied to ITS rows during
    // the copy (append only its live rows) and are NOT imported: a tombstone
    // for (tenant, id) in the other index must not hide/delete this index's
    // own unrelated doc with the same id
    val otherSchema = Json.read(s"$otherPath/_meta/schema.json", classOf[GSchema])
    def otherTableSchema(tbl: String): StructType =
      if (tbl == "docs") IndexIVF.docsSchema(otherSchema) else tableSchema(tbl)
    val otherTombs = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(s"$otherPath/tombstones"), spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$otherPath/tombstones"))) None
      else Some(spark.read.schema(IndexIVF.tombstonesSchema)
        .parquet(s"$otherPath/tombstones")
        .select(col("tenant").cast("long").as("t_tenant"),
          col("doc_id").cast("long").as("t_doc"),
          coalesce(col("epoch"), lit(Long.MaxValue)).as("t_epoch")))
    }
    // imported rows are re-stamped with a fresh LOCAL epoch: the other
    // index's epochs come from its own counter and are meaningless against
    // this index's tombstones (all pending local tombstones were just
    // compacted away above, so "newer than every local tombstone" is right)
    val epoch = nextEpoch()
    journaled("merge", epoch) {
      Seq("postings", "scalars", "context", "docs").map(t => t -> tableParts(t)).foreach {
      case (tbl, parts) =>
        // only the read may fail benignly (no data files yet on the other
        // side); a failure during the append must propagate
        val other =
          try Some(spark.read.schema(otherTableSchema(tbl)).parquet(s"$otherPath/$tbl"))
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        other.filter(!_.isEmpty).foreach { df =>
          // the other index's pending tombstones apply at ITS epochs (a row
          // the other side re-added after its tombstone must survive the copy)
          val liveRows = otherTombs
            .map(t => df.join(t,
              df("tenant") === t("t_tenant") && df("doc_id") === t("t_doc") &&
                coalesce(df("epoch"), lit(0L)) <= t("t_epoch"),
              "left_anti"))
            .getOrElse(df)
            .withColumn("epoch", lit(epoch))
          // postings MUST go through writePostings, not a raw append: a read
          // task can pack several of the other index's (individually sorted)
          // files into one split, and concatenated sorted runs are not
          // sorted — which would silently break the within-file centroid
          // sort that row-group pruning relies on (IndexSpec pins per-file
          // sortedness after merge)
          if (tbl == "postings")
            writePostings(liveRows.select(
              col("tenant"), col("field"), col("centroid"), col("doc_id"), col("epoch")))
          else if (tbl == "docs")
            // same re-placement rationale as postings: a read task can pack
            // several of the other index's files into one split, so the
            // import re-derives doc_bucket and re-sorts per directory
            writeDocs(liveRows.drop("doc_bucket"))
          else if (tbl == "scalars")
            writeScalars(liveRows.drop("value_bucket"))
          else
            // context: same re-placement rationale as docs/scalars — a read
            // split can pack several of the other index's files, so the
            // import re-derives doc_bucket and re-sorts per directory
            // instead of fanning multiple files into one doc_bucket dir
            writeContext(liveRows.drop("doc_bucket"))
        }
      }
    }
  }

  private def rewrite(tablePath: String, f: DataFrame => DataFrame, parts: Seq[String]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tablePath), spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(tablePath + ".tmp")
    val orig = new org.apache.hadoop.fs.Path(tablePath)
    if (!fs.exists(orig)) return // nothing written yet
    val tblName = tablePath.substring(tablePath.lastIndexOf('/') + 1)
    val source =
      try Some(spark.read.schema(tableSchema(tblName)).parquet(tablePath))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    source match {
      case None => // no data files
      case Some(df) =>
        f(df).write.mode("overwrite").partitionBy(parts: _*).parquet(tmp.toString)
        swapDir(fs, src = tmp, dst = orig)
    }
  }

  /** Append with the table's within-file ordering applied (see
    * [[IndexIVF.tableSort]]): a task-local sort, no shuffle. Leading the
    * sort keys with the partition columns satisfies the dynamic-partition
    * writer's required ordering, so it does NOT insert its own
    * partition-cols-only sort (which would destroy the secondary order). */
  private def writeAppend(df: DataFrame, tablePath: String, parts: Seq[String]): Unit = {
    val tbl = tablePath.substring(tablePath.lastIndexOf('/') + 1)
    val sortCols = tableSort(tbl).filter(df.columns.contains)
    val placed = if (sortCols.isEmpty) df
      else df.sortWithinPartitions(sortCols.map(col): _*)
    placed.write.mode("append").partitionBy(parts: _*).parquet(tablePath)
  }

  /** Append (tenant, field, centroid, doc_id) rows to postings/ preserving
    * the layout invariants (hive centroid buckets + within-file centroid
    * sort). A large add clusters one shuffle on the partition columns so
    * each bucket directory gets one file; a small add (few input partitions
    * — a per-invocation temp index, a trickle append) skips the shuffle and
    * writes from a single sorted task, which both cuts a Spark job and stops
    * tiny adds from fanning out one micro-file per (bucket x shuffle
    * partition). */
  /** Size-gated placement shared by the bucketed-table appends: a small
    * input (by optimizer statistics) collapses to ONE sorted task — cutting
    * a Spark job and stopping a trickle add from fanning one micro-file
    * into every bucket directory — while a bulk input clusters one shuffle
    * on the partition columns so each directory gets one file. Size comes
    * from driver-side metadata, NOT df.rdd.getNumPartitions — under AQE the
    * .rdd access materializes the plan's shuffle stages as a real job
    * (~0.3 s of dead time per add on the per-invocation engine queries).
    * The sort LEADS with the partition columns so the dynamic-partition
    * writer's required ordering is already satisfied — otherwise it inserts
    * its own partition-cols-only sort, which is not guaranteed stable and
    * can destroy the secondary order inside each directory. */
  private def sizeGatedPlacement(rows: DataFrame, parts: Seq[String],
      sortKeys: Seq[String], measuredBytes: Option[BigInt] = None): DataFrame = {
    val splitBytes = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val maxBytes = spark.conf.getOption(SmallAddMaxBytesKey).map(BigInt(_))
      .getOrElse(BigInt(splitBytes) * SmallAddPartitions)
    if (measuredBytes.getOrElse(
        rows.queryExecution.optimizedPlan.stats.sizeInBytes) <= maxBytes) {
      // the size estimate is heuristic without CBO (a selective filter or
      // join can be badly underestimated) — a free execution-time backstop
      // counts the rows that actually flowed through the single task and
      // warns loudly past the clamp, naming the escape hatch. observe()
      // rides the write plan (no extra job); it sits BELOW the sort so the
      // dynamic-partition writer still sees the required ordering.
      IndexIVF.installSmallAddClamp(spark)
      val cap = spark.conf.get(SmallAddMaxRowsKey, SmallAddMaxRowsDefault.toString).toLong
      rows
        .observe("graft.smallAdd",
          count(lit(1)).as("rows"), max(lit(cap)).as("cap"))
        .coalesce(1)
        .sortWithinPartitions(sortKeys.map(col): _*)
    } else
      rows.repartition(parts.map(col): _*)
        .sortWithinPartitions(sortKeys.map(col): _*)
  }

  /** `measuredBytes`, when the caller can supply it cheaply, replaces the
    * optimizer's size estimate in the small-vs-bulk gate — the 10M-doc SQ8
    * build proved heuristic stats can under-measure the exploded postings
    * frame >3x (the residual-pruned projection over the cached ctx is
    * priced by schema byte defaults), routing a 39M-row write through the
    * single sorted task the runtime clamp then only WARNS about. The
    * indexed-only tensor branch has no cheap measure (its source is the
    * raw input frame, and probing would run the assign UDF twice) and
    * keeps the stats gate + clamp. */
  private def writePostings(rows: DataFrame,
      measuredBytes: Option[BigInt] = None): Unit = {
    val withBucket = rows.withColumn("centroid_bucket", centroidBucket(col("centroid")))
    val placed = sizeGatedPlacement(withBucket, postingsParts,
      Seq("tenant", "field", "centroid_bucket", "centroid"), measuredBytes)
    writeAppend(placed, p("postings"), postingsParts)
  }

  /** Append context rows preserving the v5 layout invariants (hive doc
    * buckets + within-file doc_id sort) — phase-2's multiget prunes these
    * directories exactly the way hydration prunes docs/.
    *
    * Unlike the sibling writers, the small-vs-bulk decision is made on
    * MEASURED bytes, not optimizer statistics: the residual column is
    * UDF-encoded, so Catalyst prices it at the schema default (~100 B/row)
    * — which routed a 100k-doc add's ~200 MB context write into the
    * single-task small-add path and serialized the encode UDF behind the
    * coalesce(1) (measured 94.9 s vs 10.8 s for the clustered write at the
    * K=4096/dim=128 production shape). The probe aggregate doubles as the
    * persist materializer (both add() call sites persist their ctx frame),
    * so the encode runs once, distributed, and the write reads cache.
    * Context's small bound is ONE scan split rather than
    * SmallAddPartitions x: for the index's largest table, a single task
    * writing more than a split loses more to serial parquet encode than
    * micro-file fan-out would cost — trickle/micro-batch appends stay well
    * under it and keep the one-sorted-task placement. */
  private def writeContext(rows: DataFrame,
      measuredBytes: Option[Long] = None): Unit = {
    val withBucket = rows.withColumn("doc_bucket", docBucket(col("doc_id")))
    val measured = measuredBytes.getOrElse(rows.select(
      coalesce(sum(coalesce(octet_length(col("doc_residuals")), lit(0)).cast("long") +
        coalesce(size(col("doc_codes")), lit(0)).cast("long") * 8L + 64L), lit(0L)))
      .first().getLong(0))
    val smallMax = spark.conf.getOption(SmallAddMaxBytesKey).map(BigInt(_))
      .getOrElse(BigInt(math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)))
    val sortCols = tableSort("context").map(col)
    val placed =
      if (BigInt(measured) <= smallMax)
        withBucket.coalesce(1).sortWithinPartitions(sortCols: _*)
      else
        withBucket.repartition(tableParts("context").map(col): _*)
          .sortWithinPartitions(sortCols: _*)
    writeAppend(placed, p("context"), tableParts("context"))
  }

  /** Append forward-index rows preserving the v4 layout invariants (hive
    * doc buckets + within-file doc_id sort) with the same size-gated
    * placement as postings. */
  private def writeDocs(rows: DataFrame): Unit = {
    val withBucket = rows.withColumn("doc_bucket", docBucket(col("doc_id")))
    val placed = sizeGatedPlacement(withBucket, tableParts("docs"), tableSort("docs"))
    writeAppend(placed, p("docs"), tableParts("docs"))
  }

  /** Append scalar postings preserving the v4 layout invariants (hive
    * value buckets + within-file value sort) with the same size-gated
    * placement as postings. */
  private def writeScalars(rows: DataFrame): Unit = {
    val withBucket = rows.withColumn("value_bucket", valueBucket(col("value_str")))
    val placed = sizeGatedPlacement(withBucket, tableParts("scalars"), tableSort("scalars"))
    writeAppend(placed, p("scalars"), tableParts("scalars"))
  }

  // ---------------------------------------------------------------- search

  def search(tenant: Long, root: QueryNode, k: Int,
      opts: SearchOptions = SearchOptions()): DataFrame =
    graft.query.Searcher.search(this, tenant, root, k, opts)

  def save(): Unit = IndexIVF.writeMeta(path, schema)
}

object IndexIVF {

  /** Max docs per [[IndexIVF.update]] batch — the point where collecting ids
    * to the driver stops being "a batch" (8 MB of longs) and the tombstone
    * path should take over. */
  val UpdateBatchLimit: Long = 1000000L

  /** Number of hash buckets postings/ is hive-partitioned by (on top of
    * tenant, field): an nProbe search prunes to the probe centroids' bucket
    * DIRECTORIES before any file is opened, then the in-file centroid sort
    * row-group-prunes the rest. 16 keeps the directory count bounded
    * (#tenants x #fields x 16) while cutting a probe's scan by ~16x. */
  val CentroidBuckets = 16

  def centroidBucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(c, lit(CentroidBuckets.toLong)).cast("int")

  /** Driver-side twin of [[centroidBucket]] — readers MUST use this (not a
    * hand-rolled `%`) so the probe always selects the directory the posting
    * was written to (`pmod` == `floorMod`, not Java's signed `%`). */
  def bucketOf(c: Long): Int = java.lang.Math.floorMod(c, CentroidBuckets.toLong).toInt

  /** Number of hash buckets docs/ is hive-partitioned by (on top of
    * tenant) since format v4. Higher than CentroidBuckets on purpose: the
    * consumer is the ≤k hydration multiget, whose driver-known id set
    * prunes to ≤ min(k, DocBuckets) directories — pruning scales with
    * DocBuckets while k stays small (k=10 against 64 buckets reads ≤10
    * dirs; against 16 it would read ~10 of 16 and save little). The cost
    * side stays bounded: #dirs = #tenants × 64, and the micro-file fanout
    * a trickle add could cause is capped by the same size-gated placement
    * postings use ([[IndexIVF.add]] docs lane) + compactFiles hygiene. */
  val DocBuckets = 64

  def docBucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(c, lit(DocBuckets.toLong)).cast("int")

  /** Driver-side twin of [[docBucket]] (same floorMod caveat as
    * [[bucketOf]]) — the hydration multiget builds its directory-pruning
    * IN-list with this. */
  def docBucketOf(id: Long): Int =
    java.lang.Math.floorMod(id, DocBuckets.toLong).toInt

  /** Number of hash buckets scalars/ is hive-partitioned by (on top of
    * tenant, field) since format v4: a term-EQUALITY probe's value is
    * driver-known, so its bucket prunes the scalar postings to one
    * directory in 64 before any footer opens. Range probes ignore the
    * level (a hash destroys order) and keep exactly their pre-v4 cost:
    * the same files spread over 64 dirs, each still internally
    * value_num-sorted for row-group pruning. */
  val ValueBuckets = 64

  /** Bucket of a scalar posting, derived from the STORED canonical string
    * (value_str) — CRC32 of the UTF-8 bytes, a hash both Spark
    * (`crc32(cast(value_str as binary))`) and the driver can compute
    * identically. Consistency with the equality probe is by construction:
    * the probe only matches rows whose value_str EQUALS the probed
    * canonical value, and equal strings hash to the same bucket. */
  def valueBucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(coalesce(crc32(c.cast("binary")), lit(0L)), lit(ValueBuckets.toLong))
      .cast("int")

  /** Driver-side twin of [[valueBucket]] for the term probe's static
    * partition filter. */
  def valueBucketOf(canonical: String): Int = {
    if (canonical == null) 0
    else {
      val crc = new java.util.zip.CRC32
      crc.update(canonical.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.lang.Math.floorMod(crc.getValue, ValueBuckets.toLong).toInt
    }
  }

  /** A postings append estimated (from optimizer statistics) at no more
    * than this many input splits takes the single-sorted-task write path in
    * [[IndexIVF.writePostings]] instead of the clustering shuffle: a bulk
    * ingest is always estimated at many splits, while a small add's worth
    * of rows is a trivial single-task sort. The estimate is driver-side
    * metadata only — it costs no job. */
  val SmallAddPartitions = 4

  /** Above this many affected partitions, targeted compaction falls back to
    * a whole-table rewrite: the delete evidently touches most of the table,
    * and a per-partition In-list this long would bloat the plan instead of
    * pruning it. Read per call from the session conf (tests set the conf to
    * exercise the fallback; a shared mutable JVM global would race across
    * concurrent suites/instances). */
  /** Conf override for the small-add byte threshold (default
    * SmallAddPartitions x files.maxPartitionBytes) — lets an operator (or a
    * test) force the clustering-shuffle bulk path for smaller inputs. */
  private[graft] val SmallAddMaxBytesKey = "graft.index.smallAddMaxBytes"

  /** Execution-time clamp on the single-task postings path: if the rows that
    * actually flowed through it exceed this, the plan-time size ESTIMATE was
    * wrong (heuristic stats under selective filters/joins) and the warning
    * names [[SmallAddMaxBytesKey]] as the escape hatch. ~16M rows of
    * (tenant, field, centroid, doc_id, epoch) ≈ the 4-split byte budget. */
  private[graft] val SmallAddMaxRowsKey = "graft.index.smallAddMaxRows"
  private[graft] val SmallAddMaxRowsDefault = 16L * 1000 * 1000

  /** Bytes one postings row is priced at when a MEASURED row count feeds
    * the small-add gate — 32 B keeps the byte gate and the row clamp
    * aligned (16M rows x 32 B == the 4-split default byte budget, per the
    * [[SmallAddMaxRowsKey]] calibration note). */
  private[graft] val SmallAddPostingRowBytes = 32L

  /** The closed set of ops [[IndexIVF.recoverPending]] knows how to recover.
    * A journal naming anything else (or unparseable JSON) fails open()
    * loudly instead of guessing — see the corrupt-journal policy pin in
    * JournalSpec. */
  private[graft] val JournaledOps: Set[String] =
    Set("train", "add", "remove", "removeDeferred", "merge")

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[IndexIVF])

  /** Last row count seen by the small-add clamp listener (test hook — the
    * listener bus is async, so specs poll this; -1 until any single-task
    * write has reported). */
  private[graft] val lastSmallAddRows = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Once per session: watch write executions for the `graft.smallAdd`
    * observed metric and warn when the single-task path carried more rows
    * than the clamp — the cheap runtime complement to the plan-time stats
    * routing in [[IndexIVF.writePostings]] (no extra job, no plan change). */
  private val clampInstalled =
    scala.collection.concurrent.TrieMap[SparkSession, Boolean]()
  private[index] def installSmallAddClamp(spark: SparkSession): Unit =
    if (clampInstalled.putIfAbsent(spark, true).isEmpty)
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.get("graft.smallAdd").foreach { row =>
            val rows = row.getLong(row.fieldIndex("rows"))
            val cap = row.getLong(row.fieldIndex("cap"))
            lastSmallAddRows.set(rows)
            if (rows > cap) log.warn(
              s"small-add single-task postings write carried $rows rows " +
                s"(clamp $cap): the optimizer size estimate under-measured " +
                s"this append. Set $SmallAddMaxBytesKey lower (or " +
                s"$SmallAddMaxRowsKey higher if intended) to route ingests " +
                "like this through the clustering-shuffle bulk path.")
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

  /** Per-index-path write locks (see the instance `withWriteLock`): keyed
    * by path so two IndexIVF handles on the SAME directory (e.g. an open()
    * reload beside the creator) share one lock. */
  private val writeLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** JVM-global mutation ticks, keyed like [[writeLocks]] by the
    * filesystem-qualified path: the invalidation signal for handle-cached
    * derived state (see the instance `stamp`) must be as global as the
    * write lock itself, or a mutation performed through a SIBLING handle on
    * the same path in the same JVM would leave this handle's snapshot
    * serving stale codes (wrong scores) until a row-count change. */
  private val mutationTicks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()

  /** JVM-global derived-state caches ([[DerivedCache]]), keyed by
    * (qualified path, tenant, field id, handle snapshot epoch — None on live
    * handles) and stamped with the handle's tick / persisted epoch / visible
    * rows (see the instance `derivedKey` and `stamp`). */
  private[index] type DerivedKey = (String, Long, Int, Option[Long])
  private[index] type Stamp = (Long, Long, Long)

  /** CtxCodes broadcast snapshots. Each pins an up-to-broadcast-gate-sized
    * block on every executor, so 16 LRU slots bound what a session that
    * batch-searches many openAt epochs can hold. Released with `unpersist`,
    * not `destroy`: an in-flight batch may still hold the broadcast —
    * executor blocks are released now, the driver copy stays readable
    * until ContextCleaner collects it. */
  private[index] val ctxCodesBroadcasts = new DerivedCache[DerivedKey, Stamp,
    org.apache.spark.broadcast.Broadcast[graft.functions.CtxCodes]](16,
    _.unpersist())

  /** Per-batch gate stats: two longs per entry, no eviction needed. */
  private[index] val ctxStats = new DerivedCache[DerivedKey, Stamp,
    (Long, Long)](DerivedCache.Unbounded, _ => ())

  /** Resolved point-store (directory, buckets). The heavy state lives on
    * disk and is GC'd by the next [[PointStore.build]] of the same root, so
    * nothing is released here and no eviction is needed. */
  private[index] val pointStores = new DerivedCache[DerivedKey, Stamp,
    (String, Int)](DerivedCache.Unbounded, _ => ())

  /** Doc-partitioned context snapshot RDDs — the distributed twin of
    * [[ctxCodesBroadcasts]] for a context past the broadcast gate. FEWER
    * slots (4): each entry pins an over-the-gate-sized (multi-GiB at
    * production shape) RDD across executor storage memory, so holding many
    * leads to eviction churn sooner than to hits. Released with a
    * non-blocking `unpersist`. A batch still running on a released RDD
    * recomputes its lost partitions from lineage: the build's shuffle
    * output while that exists, else the build-time file listing of the
    * context table. It therefore sees the pre-mutation rows or fails
    * loudly on files a rewrite deleted; it never sees post-mutation rows
    * (BatchSearchSpec "a superseded partitioned snapshot…" pins this). */
  private[index] val ctxCodesPartitions = new DerivedCache[DerivedKey, Stamp,
    org.apache.spark.rdd.RDD[graft.functions.CtxCodes]](4,
    _.unpersist(blocking = false))

  /** Drop the in-memory point-store resolve (NOT the disk state) — spec
    * hook simulating a process restart, which must ADOPT a still-valid
    * on-disk store instead of rebuilding. */
  private[graft] def clearPointStoreResolveForTest(): Unit =
    pointStores.clear()

  private[graft] val MaxTargetedPartitionsKey = "graft.index.maxTargetedPartitions"
  private[graft] def maxTargetedPartitions(spark: SparkSession): Int =
    spark.conf.get(MaxTargetedPartitionsKey, "1000").toInt

  /** Hive partition columns per table (rewrites must preserve layout).
    * docs/ carries a doc_bucket level since format v4: the hydration
    * multiget's ids are driver-known, so their bucket set prunes whole
    * DIRECTORIES before any footer is opened — the same design as
    * postings' centroid_bucket, applied to the forward index's point
    * lookups (the reference's RocksdbForwardIndex.cpp:44-92 multiget gets
    * this from key-ordered SSTs). Targeted deletes gain the same bound:
    * remove() rewrites only the victim ids' bucket directories instead of
    * the whole tenant partition. */
  def tableParts(tbl: String): Seq[String] = tbl match {
    case "docs" => Seq("tenant", "doc_bucket")
    case "scalars" => Seq("tenant", "field", "value_bucket")
    case "tombstones" => Seq("tenant")
    case "postings" => Seq("tenant", "field", "centroid_bucket")
    // v5: context gains the same doc_bucket level as docs — phase-2's
    // multiget over driver-known survivor ids prunes whole directories
    case "context" => Seq("tenant", "field", "doc_bucket")
    case _ => Seq("tenant", "field")
  }

  /** Within-file ordering per table — written on EVERY append/rewrite so
    * row-group min/max stats actually prune the reads that matter at scale:
    * docs is probed by the hydration multiget's ≤k doc_id IN-list (pushed
    * into the scan), context is doc_id-clustered so Spark's runtime
    * bloom-filter join injection on the candidate join can row-group-prune
    * it, scalars by term equality / numeric range.
    * Scalars sort value_num FIRST: numeric fields populate both columns
    * and their range probes need numeric, not lexicographic, row-group
    * bounds; text fields have null value_num, so within their (tenant,
    * field) directory the tie-break on value_str gives lexicographic order
    * — each directory ends up sorted by ITS probe column. Postings
    * ordering (centroid) is owned
    * by [[IndexIVF]].writePostings' placement logic; tombstones are an
    * append-only id list nothing range-probes. The sort keys LEAD with the
    * partition columns: the dynamic-partition writer requires
    * partition-col ordering and inserts its OWN sort (destroying any
    * secondary order) when the plan's ordering doesn't already satisfy
    * it. */
  def tableSort(tbl: String): Seq[String] = tbl match {
    case "context" => Seq("tenant", "field", "doc_bucket", "doc_id")
    case "scalars" => Seq("tenant", "field", "value_bucket", "value_num", "value_str")
    case "docs" => Seq("tenant", "doc_bucket", "doc_id")
    case _ => Nil
  }

  val postingsParts: Seq[String] = tableParts("postings")

  /** DATETIME scalar keys are canonicalized via `cast(TimestampType)` +
    * `unix_millis` ([[canonicalString]]/[[canonicalNum]]), which is
    * value-exact for TIMESTAMP_NTZ inputs only under a UTC session
    * timezone — an index written and queried under different session
    * timezones would disagree on every DATETIME key. The engine's own
    * entry points (Bench/Verify/tests) pin UTC; an embedding application
    * must too, so [[create]]/[[open]] refuse a non-UTC session when the
    * schema carries a DATETIME field rather than silently shifting keys. */
  private def requireUtcForDatetime(spark: SparkSession, schema: GSchema): Unit = {
    val hasDatetime = schema.fields.exists(_.dtype == GDataType.DATETIME)
    if (hasDatetime) {
      val tz = spark.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID)
      val utc = tz == "UTC" || tz == "Etc/UTC" || tz == "GMT" || tz == "+00:00"
      require(utc,
        s"index schema has a DATETIME field but spark.sql.session.timeZone " +
          s"is '$tz': DATETIME keys are canonicalized to epoch millis via a " +
          "UTC-exact cast, so a non-UTC session would shift NTZ-sourced " +
          "values and break key agreement across sessions — set " +
          "spark.sql.session.timeZone=UTC before create/open")
    }
  }

  def create(spark: SparkSession, path: String, schema: GSchema): IndexIVF = {
    requireUtcForDatetime(spark, schema)
    writeMeta(path, schema)
    // no eager table writes: an empty partitioned write emits only _SUCCESS
    // (no schema to infer later), so emptiness is handled at read time by
    // readTable instead
    new IndexIVF(spark, path, schema)
  }

  /** One long field out of a tiny metadata JSON, 0 when the file (or the
    * field) is absent — the shared shape of `epoch.json`/`floor.json`,
    * readable both through a handle and statically (openAt checks the
    * floor BEFORE constructing one). */
  private[index] def readLongField(path: String, field: String): Long =
    if (!Json.exists(path)) 0L
    else Json.read(path, classOf[Map[String, Any]])
      .get(field).collect { case n: Number => n.longValue() }.getOrElse(0L)

  /** Epochs that have a stamped copy of `fileName` under
    * `<path>/_meta/history/` (written by [[IndexIVF.train]]'s saveStamped). */
  private def modelHistoryEpochs(path: String, fileName: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val h = java.nio.file.Paths.get(s"$path/_meta/history")
    if (!java.nio.file.Files.isDirectory(h)) Nil
    else {
      val s = java.nio.file.Files.list(h)
      try s.iterator().asScala.flatMap { d =>
        d.getFileName.toString.toLongOption
          .filter(_ => java.nio.file.Files.exists(d.resolve(fileName)))
      }.toList
      finally s.close()
    }
  }

  /** Open an existing index (read-only use is just "don't call mutators";
    * reference: lintdb/index.cpp:40-58). `modelEpoch` selects WHICH saved
    * model generation to load: None = the current files (`_meta/<f>.*.json`,
    * the plain-open path), Some(e) = the newest epoch-stamped copy in
    * `_meta/history/` with stamp <= e — the model that was in effect at
    * snapshot epoch e, so [[openAt]] scores with it even after a retrain.
    * A model that exists ONLY unstamped predates model versioning and
    * cannot prove which generation epoch e saw — refused loudly. A model
    * whose stamps are all > e is loaded as untrained ONLY when the field
    * also has no rows at epochs <= e (truly untrained at e); if rows DO
    * exist at or before e, the generation that scored them was an
    * unstamped pre-versioning model a later retrain overwrote — also
    * refused loudly, with the same unstamped-legacy guidance (post-
    * versioning, add() requires a train() whose stamp necessarily
    * precedes the rows' epochs, so earlier rows with no earlier stamp can
    * only mean a pre-versioning train). */
  private def load(spark: SparkSession, path: String,
      modelEpoch: Option[Long] = None): IndexIVF = {
    checkVersion(path)
    val schema = Json.read(s"$path/_meta/schema.json", classOf[GSchema])
    requireUtcForDatetime(spark, schema)
    val idx = new IndexIVF(spark, path, schema)
    // one data job per (tensor field, failing resolve) — reached only on
    // the openAt path when no stamp <= e exists, never on plain open
    def fieldHasRowsAtOrBefore(fieldName: String, e: Long): Boolean = {
      val fid = idx.mapper.id(fieldName)
      // RAW table read, not postingsDf: the guard asks what a snapshot at e
      // could serve, and the writable handle's live() funnel applies
      // tombstones from epochs AFTER e that the snapshot's own read path
      // would exclude — a pending removeDeferred at T2 > e would mask the
      // rows here while openAt(e) still serves them, silently skipping the
      // refusal. Ignoring tombstones entirely is the conservative
      // direction: at worst the guard refuses a snapshot whose rows are
      // all tombstoned at <= e and would never be served.
      !idx.readTable("postings", IndexIVF.postingsSchema)
        .filter(col("field") === fid && coalesce(col("epoch"), lit(0L)) <= e)
        .isEmpty
    }
    def resolve(fieldName: String, fileName: String): Option[String] =
      modelEpoch match {
      case None => Some(s"$path/_meta/$fileName").filter(Json.exists)
      case Some(e) =>
        val stamps = modelHistoryEpochs(path, fileName)
        stamps.filter(_ <= e).maxOption match {
          case Some(se) => Some(s"$path/_meta/history/$se/$fileName")
          case None =>
            require(stamps.nonEmpty || !Json.exists(s"$path/_meta/$fileName"),
              s"index at $path has an unstamped model $fileName (saved " +
                "before model versioning): a snapshot cannot prove which " +
                "model generation its epoch saw — retrain (or re-save via " +
                "train()) once to stamp the current model, then re-snapshot")
            // stamps exist but all are LATER than e: only safe to load as
            // untrained if the field truly had no rows at e — earlier rows
            // with no earlier stamp mean they were scored by an unstamped
            // pre-versioning model a retrain overwrote. (A file with NO
            // stamps at all reaches here only when it also has no current
            // copy — a codec the field never used — which is fine.)
            require(stamps.isEmpty || !fieldHasRowsAtOrBefore(fieldName, e),
              s"index at $path has rows for field $fieldName at epochs <= $e " +
                s"but its earliest $fileName stamp is later: the model that " +
                "scored those rows was saved before model versioning and a " +
                "retrain overwrote it, so this snapshot cannot prove which " +
                "generation its epoch saw — snapshot at or after the first " +
                "stamped epoch instead")
            None
        }
    }
    schema.tensorFields.foreach { f =>
      resolve(f.name, s"${f.name}.centroids.json").foreach { cPath =>
        idx.coarse += f.name -> CoarseQuantizer.load(cPath)
        val bPath = resolve(f.name, s"${f.name}.binarizer.json")
        val pqPath = resolve(f.name, s"${f.name}.pq.json")
        val sqPath = resolve(f.name, s"${f.name}.sq8.json")
        idx.quantizers += f.name -> (f.parameters.quantizerKind match {
          case QuantizerKind.BINARIZER if bPath.isDefined => Binarizer.load(bPath.get)
          case QuantizerKind.PRODUCT_ENCODER if pqPath.isDefined =>
            ProductEncoder.load(pqPath.get)
          case QuantizerKind.SQ8 if sqPath.isDefined =>
            ScalarQuantizer8.load(sqPath.get)
          case _ => IdentityQuantizer(f.parameters.dimensions)
        })
      }
    }
    idx
  }

  def open(spark: SparkSession, path: String): IndexIVF = {
    // recover any torn write BEFORE parsing model files: a journal entry
    // means the previous writer died mid-operation, and a torn phase-B
    // train can leave a CURRENT model file truncated (unparseable — a
    // model load would throw before recovery could ever run, bricking the
    // index) or mixed across fields (the handle would cache a stale
    // in-memory model that recovery's disk repair never refreshes). The
    // recovery handle is deliberately model-less: journal recovery touches
    // tables and _meta files only.
    if (Json.exists(s"$path/_meta/pending.json")) {
      checkVersion(path)
      val schema = Json.read(s"$path/_meta/schema.json", classOf[GSchema])
      new IndexIVF(spark, path, schema).recoverPending()
    }
    load(spark, path)
  }

  /** Open a read-only SNAPSHOT of an existing index as of `epoch`: every
    * read (and every search through the handle) sees exactly the rows
    * committed by writes with epoch <= `epoch`, with only the tombstones
    * up to it applied — the reproduce-a-past-run / audit primitive an
    * epoch-stamped table layout gets nearly for free. Mutators refuse
    * loudly.
    *
    * Fidelity is ENFORCED, not caveated: [[compact]] and the synchronous
    * [[remove]] physically rewrite history, so they raise the persisted
    * [[IndexIVF.historyFloor]] and epochs below it are refused here rather
    * than silently serving partial data. Models (centroids / codecs) are
    * epoch-stamped at save — this loads the generation in effect AT the
    * snapshot epoch, so a retrain between snapshots cannot change a
    * snapshot's scores (see [[load]] for the unstamped-legacy refusal). A
    * pending crash journal refuses the snapshot (open a writable handle
    * once to recover, then re-snapshot): recovery mutates disk, which a
    * read-only handle must not do. */
  def openAt(spark: SparkSession, path: String, epoch: Long): IndexIVF = {
    require(!Json.exists(s"$path/_meta/pending.json"),
      s"index at $path has a torn write pending recovery; IndexIVF.open() " +
        "a writable handle first, then snapshot")
    // out-of-range BEFORE the floor check: a negative epoch must get the
    // range diagnostic, not a "remove()/compact() rewrote history" blame
    // for maintenance that never ran (the upper bound still needs load()'s
    // currentEpoch and stays below)
    require(epoch >= 0, s"snapshot epoch $epoch out of range [0, ...]")
    // floor FIRST (r14 ADVICE): a below-floor epoch is doomed regardless of
    // model resolution, and for an epoch whose older stamps the history
    // vacuum already deleted, load()'s rows-at-or-before guard would
    // otherwise run a postings-scan job and throw the misleading
    // unstamped-legacy diagnostic for a snapshot this refusal owns.
    val floor = readLongField(s"$path/_meta/floor.json", "floor")
    require(epoch >= floor,
      s"snapshot epoch $epoch predates the history floor $floor: a " +
        "remove()/compact() physically rewrote history up to that epoch, " +
        "so older snapshots can no longer be reproduced")
    val idx = load(spark, path, modelEpoch = Some(epoch))
    val cur = idx.currentEpoch()
    require(epoch >= 0 && epoch <= cur,
      s"snapshot epoch $epoch out of range [0, $cur]")
    idx.snapshotEpoch = Some(epoch)
    idx
  }

  /** New writable index reusing a trained index's models (reference:
    * lintdb/index.cpp:76-90). */
  def copyTrained(other: IndexIVF, newPath: String): IndexIVF = {
    val idx = create(other.spark, newPath, other.schema)
    idx.coarse = other.coarse
    idx.quantizers = other.quantizers
    // stamped at epoch 0: the cloned models are in effect from the new
    // index's very first epoch, so any snapshot of it can resolve them
    def saveBoth(fileName: String)(save: String => Unit): Unit = {
      save(s"$newPath/_meta/$fileName")
      save(s"$newPath/_meta/history/0/$fileName")
    }
    other.coarse.keys.foreach { f =>
      saveBoth(s"$f.centroids.json")(other.coarse(f).save)
      other.quantizers.get(f).foreach {
        case b: Binarizer => saveBoth(s"$f.binarizer.json")(b.save)
        case pe: ProductEncoder => saveBoth(s"$f.pq.json")(pe.save)
        case sq: ScalarQuantizer8 => saveBoth(s"$f.sq8.json")(sq.save)
        case _ =>
      }
    }
    idx
  }

  /** On-disk format version. Version 3 = every table carries a write-epoch
    * column and tombstones kill by epoch (nullable; absent columns in files
    * appended under v2 read as null and coalesce to the old semantics, so
    * the v2 -> v3 migration is metadata-only). Version 2 = postings
    * hive-partitioned by (tenant, field, centroid_bucket); version 4 adds
    * the docs/ doc_bucket and scalars/ value_bucket levels. An older
    * version (missing a bucket level)
    * cannot be read or safely appended to by this code — [[open]] rejects
    * it with a migration hint instead of failing at query time (or worse,
    * letting an add() interleave two directory layouts under one table). */
  val FormatVersion = 5

  private val layoutDesc =
    "postings/tenant/field/centroid_bucket, docs/tenant/doc_bucket, " +
      "scalars/tenant/field/value_bucket, context/tenant/field/doc_bucket"

  private def writeMeta(path: String, schema: GSchema): Unit = {
    Json.write(s"$path/_meta/schema.json", schema)
    Json.write(s"$path/_meta/mapper.json", FieldMapper.fromSchema(schema).nameToId)
    Json.write(s"$path/_meta/metadata.json",
      Map("format" -> "graft-ivf-parquet", "version" -> FormatVersion,
        "layout" -> layoutDesc))
  }

  private def readVersion(path: String): Int = {
    val metaPath = s"$path/_meta/metadata.json"
    if (!Json.exists(metaPath)) 0
    else Json.read(metaPath, classOf[Map[String, Any]])
      .get("version").collect { case n: Number => n.intValue() }.getOrElse(0)
  }

  /** Fingerprint of the trained model + field mapping, computed from the
    * stored `_meta` artifacts (so it cannot drift from what [[open]] loads):
    * the canonicalized field name->id mapping plus a SHA-256 over every
    * per-field model file (`<field>.centroids.json`, `.binarizer.json`,
    * `.pq.json`, `.sq8.json`) in file-name order. Used by [[IndexIVF.merge]] to refuse
    * unioning indexes whose centroid spaces / codecs differ. An untrained
    * index (or a scalar-only schema) fingerprints to just its mapping, so
    * scalar-only merges stay keyed on the field mapping alone. */
  private[graft] def modelFingerprint(spark: SparkSession, path: String): String = {
    val schema = Json.read(s"$path/_meta/schema.json", classOf[GSchema])
    val mapping = FieldMapper.fromSchema(schema).nameToId.toSeq.sortBy(_._1)
      .map { case (n, i) => s"$n=$i" }.mkString(",")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(mapping.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(s"$path/_meta"), spark.sparkContext.hadoopConfiguration)
    val metaDir = new org.apache.hadoop.fs.Path(s"$path/_meta")
    fs.listStatus(metaDir).map(_.getPath)
      .filter { f =>
        val n = f.getName
        n.endsWith(".centroids.json") || n.endsWith(".binarizer.json") ||
          n.endsWith(".pq.json") || n.endsWith(".sq8.json")
      }
      .sortBy(_.getName)
      .foreach { f =>
        md.update(f.getName.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val in = fs.open(f)
        try {
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
        } finally in.close()
      }
    md.digest().map("%02x".format(_)).mkString
  }

  private def checkVersion(path: String): Unit = {
    val version = readVersion(path)
    if (version != FormatVersion) throw new IllegalStateException(
      s"index at $path has format version $version, this build reads/writes " +
        s"version $FormatVersion (postings are hive-partitioned by " +
        "centroid_bucket since v2; rows and tombstones carry a write epoch " +
        "since v3; docs and scalars are hive-partitioned by doc_bucket / " +
        "value_bucket since v4; context is hive-partitioned by doc_bucket " +
        "since v5). Run IndexIVF.migrate(spark, path) to " +
        "upgrade it in place, or rebuild with create()+add().")
  }

  /** In-place upgrade of a version-1..3 index to the current format,
    * staged by what each version is missing. v1 needs the postings layout
    * rewrite: derive `centroid_bucket` for every posting and rewrite
    * `postings/` as the three-level hive tree with the within-file centroid
    * sort [[open]] and the searchers rely on. The v3 epoch upgrade is
    * METADATA-ONLY: the epoch columns are nullable, old files read as epoch
    * null, and every epoch comparison coalesces nulls to the pre-epoch
    * semantics (row null -> epoch 0, tombstone null -> kill everything), so
    * no data rewrite is needed — new appends simply start stamping. v4
    * adds the docs/ doc_bucket and scalars/ value_bucket levels: every
    * pre-v4 version rewrites each of those tables once (derive the bucket,
    * recluster, restore the within-file sort). Idempotent: a
    * current-version index returns immediately.
    *
    * Each layout rewrite is one clustering shuffle of its table —
    * O(table), the minimum any layout migration can do — with the same
    * one-file-per-directory placement as a bulk [[IndexIVF.add]]. The
    * tmp-write + swap means a crash mid-migrate leaves the original tree
    * intact (and metadata.json still says the old version, so nothing
    * reads the half-written tmp). */
  def migrate(spark: SparkSession, path: String): Unit = {
    val version = readVersion(path)
    if (version == FormatVersion) return
    require(version >= 1 && version < FormatVersion,
      s"cannot migrate an index with format version $version (expected " +
        s"1..${FormatVersion - 1}); version 0 means no metadata.json — " +
        "this is not a graft index")

    /** Rewrite one table adding a derived hive bucket level. Reads by
      * schema INFERENCE (an old tree lacks the bucket directory level; an
      * empty tree — only _SUCCESS — reads as None -> nothing to rewrite). */
    def addBucketLevel(tbl: String, bucketCol: String,
        derive: DataFrame => org.apache.spark.sql.Column,
        sort: Seq[String]): Unit = {
      val tablePath = s"$path/$tbl"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(tablePath), spark.sparkContext.hadoopConfiguration)
      val orig = new org.apache.hadoop.fs.Path(tablePath)
      if (!fs.exists(orig)) return
      val source =
        try Some(spark.read.parquet(tablePath))
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      source.foreach { df =>
        if (df.columns.contains(bucketCol)) {
          // the inferred schema already carries the bucket column. If it is
          // a DIRECTORY level, this table is already the target layout —
          // the re-run-after-crash case (a prior migrate rewrote the table
          // but died before stamping metadata.json), so skip it: migrate
          // must stay idempotent PER TABLE or a crash would strand the
          // index. A bucket column sitting INSIDE the files with no
          // directory level is not something any version ever wrote —
          // refuse to guess.
          val isDirLevel = Seq("*", "*/*").exists(depth =>
            fs.globStatus(new org.apache.hadoop.fs.Path(
              s"$tablePath/$depth/$bucketCol=*")) match {
              case null => false
              case hits => hits.nonEmpty
            })
          require(isDirLevel,
            s"$tablePath carries $bucketCol inside its data files but has " +
              s"no $bucketCol= directory level and metadata.json says " +
              s"version $version — refusing to guess which is authoritative")
        } else {
          val parts = tableParts(tbl)
          val placed = df
            .withColumn(bucketCol, derive(df))
            .repartition(parts.map(col): _*)
            .sortWithinPartitions(sort.map(col): _*)
          val tmp = new org.apache.hadoop.fs.Path(tablePath + ".tmp")
          placed.write.mode("overwrite").partitionBy(parts: _*).parquet(tmp.toString)
          fs.delete(orig, true)
          fs.rename(tmp, orig)
        }
      }
    }

    if (version == 1)
      addBucketLevel("postings", "centroid_bucket",
        d => centroidBucket(d("centroid")),
        Seq("tenant", "field", "centroid_bucket", "centroid"))
    // every pre-v4 version lacks the docs and scalars bucket levels
    addBucketLevel("docs", "doc_bucket",
      d => docBucket(d("doc_id")), tableSort("docs"))
    addBucketLevel("scalars", "value_bucket",
      d => valueBucket(d("value_str")), tableSort("scalars"))
    // every pre-v5 version lacks the context bucket level (idempotent per
    // table like the rest: a v4 index rewrites ONLY context here)
    addBucketLevel("context", "doc_bucket",
      d => docBucket(d("doc_id")), tableSort("context"))
    Json.write(s"$path/_meta/metadata.json",
      Map("format" -> "graft-ivf-parquet", "version" -> FormatVersion,
        "layout" -> layoutDesc))
  }

  private def empty(spark: SparkSession, s: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)

  /** Every table carries a write `epoch` (monotonic per index, see
    * [[IndexIVF.nextEpoch]]) as its LAST column: per append it is a single
    * constant, so parquet dictionary/RLE encodes it to ~nothing, and readers
    * that address columns by position are unaffected. Files written before
    * v3 lack the column and read as null under the declared schema — every
    * epoch comparison coalesces (row null -> 0, tombstone null -> MaxValue),
    * which reproduces the old epoch-less kill-everything semantics for
    * pre-upgrade data exactly. */
  val postingsSchema: StructType = StructType(Seq(
    StructField("tenant", LongType), StructField("field", IntegerType),
    StructField("centroid", LongType), StructField("doc_id", LongType),
    StructField("centroid_bucket", IntegerType), StructField("epoch", LongType)))
  val scalarsSchema: StructType = StructType(Seq(
    StructField("tenant", LongType), StructField("field", IntegerType),
    StructField("value_str", StringType), StructField("value_num", DoubleType),
    StructField("doc_id", LongType), StructField("epoch", LongType),
    StructField("value_bucket", IntegerType)))
  val contextSchema: StructType = StructType(Seq(
    StructField("tenant", LongType), StructField("field", IntegerType),
    StructField("doc_id", LongType),
    StructField("doc_codes", ArrayType(LongType)),
    StructField("doc_residuals", BinaryType), StructField("epoch", LongType),
    StructField("doc_bucket", IntegerType)))
  val tombstonesSchema: StructType = StructType(Seq(
    StructField("tenant", LongType), StructField("doc_id", LongType),
    StructField("epoch", LongType)))

  def docsSchema(schema: GSchema): StructType = StructType(
    ((StructField("tenant", LongType) +: StructField("doc_id", LongType) +:
      schema.storedFields.map(f => StructField(f.name, sparkType(f)))) :+
      StructField("epoch", LongType)) :+
      StructField("doc_bucket", IntegerType))

  def sparkType(f: GField): DataType = f.dtype match {
    case GDataType.INTEGER => LongType
    case GDataType.FLOAT => FloatType
    case GDataType.TEXT => StringType
    case GDataType.DATETIME => TimestampType
    case GDataType.TENSOR => ArrayType(ArrayType(FloatType))
    case GDataType.QUANTIZED_TENSOR => BinaryType
    case other => throw new IllegalArgumentException(s"unsupported stored type $other")
  }

  /** Canonical scalar encodings for the inverted key (the Spark analogue of
    * the typed key encodings in KeyBuilder.h:21-57). */
  /** DATETIME intake tolerates TIMESTAMP_NTZ inputs (parquet written with
    * isAdjustedToUTC=false, which Spark 4 surfaces as TimestampNTZType):
    * the cast to TimestampType is exact under the engine's pinned UTC
    * session timezone and a no-op when the column is already TimestampType,
    * so unix_millis never sees an NTZ operand (DATATYPE_MISMATCH). */
  def canonicalString(f: GField, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    f.dtype match {
      case GDataType.DATETIME => unix_millis(c.cast(TimestampType)).cast("string")
      case _ => c.cast("string")
    }

  def canonicalNum(f: GField, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    f.dtype match {
      case GDataType.INTEGER | GDataType.FLOAT => c.cast("double")
      case GDataType.DATETIME => unix_millis(c.cast(TimestampType)).cast("double")
      case _ => lit(null).cast("double")
    }

  def canonicalValue(f: GField, v: Any): String = v match {
    case ts: java.sql.Timestamp => ts.getTime.toString
    case i: java.time.Instant => i.toEpochMilli.toString
    case other => other.toString
  }
}
