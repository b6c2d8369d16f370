package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.Partitioner
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Residual point store: an on-disk, record-addressable (doc_id ->
  * residual bytes) side layout that gives batch phase-2 hydration the
  * O(#ids) multiget the reference gets from RocksDB
  * (lintdb/invlists/RocksdbForwardIndex.cpp:44-92 — one `MultiGet` over the
  * pooled ids), where a columnar scan fundamentally cannot: a large batch's
  * pool (batch x numSecondPass, 54k distinct ids at the 212 x 256 / 10M-doc
  * profile) is spread uniformly over the corpus, so it saturates every
  * `doc_bucket % 64` directory, every row group, and every page of the
  * doc_id-sorted context files — neither partition pruning, the IN-list,
  * nor a semi-join skips ANY residual byte, and the scan decodes all 10M
  * rows to keep 54k (measured 40.6 core-s/batch, COVERAGE.md round 17).
  * The same math rules out "more directories" as a fix: pruning only
  * skips a granule containing ZERO pooled ids, and at 54k uniform ids a
  * granule needs < ~190 rows for that to be likely — 4096 hive buckets
  * (2.4k rows each) or tiny row groups are all expected-hit, so IO stays
  * O(corpus). Only RECORD-granular addressing breaks the bound.
  *
  * ==Layout==
  *
  * `<index>/_cache/points/t<tenant>_f<fid>/<stateTag>/`
  *   - `b<bucket>.dat` — records sorted by doc_id:
  *     `[doc_id: i64][resLen: i32][residual bytes]` (big-endian, the
  *     JVM's DataOutput order). Codes are NOT stored: phase-2 scoring
  *     reads only the residuals (token count = resLen / codeSize).
  *   - `b<bucket>.idx` — sorted `[doc_id: i64][offset: i64]` pairs; a
  *     record's length is the offset delta to the next entry (file length
  *     for the last), valid because the data file is doc_id-sorted too.
  *   - `_store.json` — `{version, buckets, rows, datBytes}`; written LAST
  *     inside the build's tmp dir, so its presence after the atomic
  *     directory rename marks a complete store.
  *
  * Bucket count scales with the corpus (`rows / 32768`, clamped to
  * [32, 32768]) so one bucket's build task sorts ~tens of MB in memory at
  * any scale, and a batch multiget fans out across enough tasks to fill a
  * cluster.
  *
  * ==Derived cache, not a table==
  *
  * The store is DERIVED state rebuilt from the canonical `context/` table
  * — the same class of artifact as the [[graft.functions.CtxCodes]]
  * broadcast snapshot, persisted because it outgrows any sane broadcast
  * (it carries the residual bytes). That keeps it OUT of the on-disk
  * format: no version bump, no migration, nothing the journal must make
  * atomic — a torn build leaves a `.tmp.` directory no reader ever
  * resolves, and a reader that finds no valid store just rebuilds (or the
  * caller falls back to the scan shape). Its resolve is one
  * [[DerivedCache]] instance with the snapshots' key and stamp
  * ([[IndexIVF.pointStore]]) — a mutation in this process, a sibling
  * handle, or a FOREIGN process all route the next batch to a rebuild;
  * the `<stateTag>` encodes (rows, epoch) so a
  * restarted process ADOPTS a matching store from disk instead of
  * rebuilding.
  *
  * ==Multiget==
  *
  * The driver groups the pooled (query_id, doc_id) pairs by bucket (the
  * pool is already collected — bounded by the caller's byte gate) and runs
  * one task per touched bucket: binary-search the bucket's idx for each
  * wanted id, coalesce adjacent record reads within
  * [[CoalesceGapKey]] bytes into one positioned read, parse ONLY the
  * wanted records, score in place. Bytes touched per batch:
  * `O(pool x recordSize)` for data + the touched buckets' idx arrays —
  * the idx arrays are immutable per store directory and LRU-cached
  * JVM-wide ([[idxCache]]), so steady-state serving reads ~pool-sized
  * data only. Ids with no record (tombstoned between phase-1 and the
  * multiget, or never added) are silently dropped — the same rows an
  * inner join against the context table would drop. */
object PointStore {

  /** Rows per bucket the auto bucket count targets, and its clamp. */
  private val RowsPerBucket = 32768L
  private val MinBuckets = 32
  private val MaxBuckets = 32768

  /** Conf: override the store's bucket count at BUILD time (0 = auto). */
  val BucketsKey = "graft.rerank.pointStoreBuckets"

  /** Conf: multiget read-coalescing gap in bytes — two wanted records
    * closer than this are fetched in one positioned read. Local/page-cached
    * filesystems favor a small gap (default 64 KiB: at the 10M profile the
    * mean gap between pooled records is ~100 KiB, so most records read
    * individually and bytes-touched stays ~pool-sized); object stores with
    * per-request latency favor a larger one. */
  val CoalesceGapKey = "graft.rerank.pointStoreCoalesceGap"
  private def coalesceGap(spark: SparkSession): Long =
    spark.conf.get(CoalesceGapKey, (64L << 10).toString).toLong

  /** Store-directory metadata (parsed `_store.json`). */
  final case class StoreMeta(buckets: Int, rows: Long, datBytes: Long)

  /** Build counter, exposed for specs to pin cache/adopt behavior (a
    * serving path that silently rebuilt per batch would still be correct,
    * just O(corpus) again). */
  private[graft] val buildsForTest = new java.util.concurrent.atomic.AtomicLong(0L)

  /** One shared Configuration per JVM: constructing one parses the
    * default XML resources — measured ~100 ms of CPU per multiget TASK
    * when each built its own (306 tasks x ~100 ms = the entire "O(pool)"
    * claim eaten by config parsing). Reads of a Configuration are
    * thread-safe; FileSystem.get additionally caches FS instances per
    * (scheme, authority). */
  private lazy val sharedHadoopConf = new Configuration()

  private def fsFor(dir: String): FileSystem =
    new Path(dir).getFileSystem(sharedHadoopConf)

  /** file:// paths bypass the Hadoop stream stack for READS:
    * LocalFileSystem is a ChecksumFileSystem, so every positioned read
    * re-verifies 512 B CRC chunks through the checker (measured ~90 ms of
    * CPU per multiget task — the point store's whole per-task budget —
    * for ~170 x 500 B preads that cost microseconds through a raw
    * FileChannel). Remote filesystems (HDFS/S3) keep the Hadoop stream
    * path: their positioned reads are native and checksums live below the
    * FS API. Writes stay on the Hadoop API everywhere (portability; the
    * local .crc sidecars are ~0.4 % overhead and are GC'd with the dir). */
  private def localPathOf(dir: String): Option[String] = {
    val u = new Path(dir).toUri
    if (u.getScheme == null || u.getScheme == "file") Some(u.getPath) else None
  }

  /** Positioned-read handle over one data file — NIO on local paths,
    * FSDataInputStream otherwise. */
  private sealed trait RangeReader extends AutoCloseable {
    def length: Long
    def readFully(pos: Long, buf: Array[Byte]): Unit
  }
  private final class NioReader(p: String) extends RangeReader {
    private val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(p), java.nio.file.StandardOpenOption.READ)
    val length: Long = ch.size()
    def readFully(pos: Long, buf: Array[Byte]): Unit = {
      val bb = java.nio.ByteBuffer.wrap(buf)
      var at = pos
      while (bb.hasRemaining) {
        val n = ch.read(bb, at)
        require(n >= 0, s"EOF at $at reading $p")
        at += n
      }
    }
    def close(): Unit = ch.close()
  }
  private final class HadoopReader(fs: FileSystem, p: Path) extends RangeReader {
    val length: Long = fs.getFileStatus(p).getLen
    private val in = fs.open(p)
    def readFully(pos: Long, buf: Array[Byte]): Unit =
      in.readFully(pos, buf, 0, buf.length)
    def close(): Unit = in.close()
  }
  private def readerFor(dir: String, name: String): RangeReader =
    localPathOf(dir) match {
      case Some(local) =>
        new NioReader(new java.io.File(local, name).getPath)
      case None =>
        val fs = fsFor(dir)
        new HadoopReader(fs, new Path(dir, name))
    }

  private[graft] def autoBuckets(rows: Long): Int =
    math.min(MaxBuckets.toLong,
      math.max(MinBuckets.toLong, (rows + RowsPerBucket - 1) / RowsPerBucket)).toInt

  private final class ExactPartitioner(n: Int) extends Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  def bucketOf(docId: Long, buckets: Int): Int =
    java.lang.Math.floorMod(docId, buckets.toLong).toInt

  /** Build a complete store for the VISIBLE (tenant, field) context rows
    * into `<root>/<stateTag>`, atomically (tmp dir + rename). Returns the
    * final directory and its meta. If a valid store already exists at the
    * tag (another thread/process won the race), the tmp build is discarded
    * and the existing one adopted. */
  def build(spark: SparkSession, ctx: org.apache.spark.sql.DataFrame,
      root: String, stateTag: String): (String, StoreMeta) = {
    val fs = fsFor(root)
    val finalDir = new Path(root, stateTag)
    readMeta(fs, finalDir).foreach { m => return (finalDir.toString, m) }

    val rows = ctx.count()
    val buckets = {
      val conf = spark.conf.get(BucketsKey, "0").toInt
      if (conf > 0) conf else autoBuckets(rows)
    }
    val tmpDir = new Path(root, s"$stateTag.tmp.${java.util.UUID.randomUUID}")
    fs.mkdirs(tmpDir)
    val tmpStr = tmpDir.toString
    val nb = buckets
    // one shuffle of the residual corpus (the store build's only
    // corpus-sized cost, paid once per index state — the same class as the
    // CtxCodes snapshot build): route every doc to its bucket's task, sort
    // the bucket in memory (~RowsPerBucket x recordBytes, tens of MB),
    // stream both files out. Executors write their own bucket files — no
    // committer needed, the directory rename below is the commit point.
    val written = ctx
      .select(col("doc_id"), col("doc_residuals"))
      .dropDuplicates("doc_id")
      .rdd.map { r =>
        val id = r.getLong(0)
        val res = r.getAs[Array[Byte]](1)
        require(res != null,
          s"doc $id has null doc_residuals — the point store (like the " +
            "phase-2 rerank itself) requires residual-bearing context rows")
        (bucketOf(id, nb), (id, res))
      }
      .partitionBy(new ExactPartitioner(nb))
      .mapPartitionsWithIndex { (b, it) =>
        val recs = it.map(_._2).toArray.sortInPlaceBy(_._1)
        var n = 0L
        var bytes = 0L
        if (recs.nonEmpty) {
          val bfs = fsFor(tmpStr)
          val dat = new java.io.DataOutputStream(
            new java.io.BufferedOutputStream(
              bfs.create(new Path(tmpStr, s"b$b.dat")), 1 << 20))
          val idx = new java.io.DataOutputStream(
            new java.io.BufferedOutputStream(
              bfs.create(new Path(tmpStr, s"b$b.idx")), 1 << 18))
          try {
            var off = 0L
            recs.foreach { case (id, res) =>
              idx.writeLong(id); idx.writeLong(off)
              dat.writeLong(id); dat.writeInt(res.length); dat.write(res)
              off += 8L + 4L + res.length
              n += 1
            }
            bytes = off
          } finally { dat.close(); idx.close() }
        }
        Iterator.single((n, bytes))
        // bounded: exactly one (count, bytes) pair per bucket — the
        // partitioner width is the bucket count, clamped by autoBuckets
        // (MaxBuckets) or the explicit BucketsKey conf
      }.collect()
    val meta = StoreMeta(buckets, written.map(_._1).sum, written.map(_._2).sum)
    val metaBytes = graft.core.Json.mapper.writeValueAsBytes(
      Map("version" -> 1L, "buckets" -> meta.buckets.toLong,
        "rows" -> meta.rows, "datBytes" -> meta.datBytes))
    val metaOut = fs.create(new Path(tmpDir, "_store.json"))
    try metaOut.write(metaBytes) finally metaOut.close()
    buildsForTest.incrementAndGet()
    if (!fs.rename(tmpDir, finalDir)) {
      // lost a concurrent build race (or a stale dir blocks the name):
      // adopt the existing store if valid, else surface the failure
      fs.delete(tmpDir, true)
      readMeta(fs, finalDir).map(m => return (finalDir.toString, m))
        .getOrElse(throw new IllegalStateException(
          s"point store rename to $finalDir failed and no valid store " +
            "exists there"))
    }
    // GC superseded sibling LIVE-state dirs (mutations change the tag) and
    // torn `.tmp.` build dirs — but never `snap*` tags, which belong to
    // still-open read-only snapshot handles whose visible set is immutable.
    // A live build only runs after a mutation invalidated every older live
    // tag, and the single-writer contract makes this safe cross-process: a
    // foreign process still serving a deleted tag is already outside the
    // engine's concurrent-writer support, and it fails LOUDLY (missing
    // files) and rebuilds, like any reader of a compacted table.
    val kept = finalDir.getName
    if (!kept.startsWith("snap")) {
      val ls = try fs.listStatus(new Path(root)) catch {
        case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus]
      }
      ls.filter { s =>
        val n = s.getPath.getName
        s.isDirectory && n != kept && !n.startsWith("snap")
      }.foreach(s => fs.delete(s.getPath, true))
    }
    (finalDir.toString, meta)
  }

  /** Parse `<dir>/_store.json` if the store is complete. */
  def readMeta(fs: FileSystem, dir: Path): Option[StoreMeta] = {
    val f = new Path(dir, "_store.json")
    if (!fs.exists(f)) None
    else
      try {
        val in = fs.open(f)
        val m =
          try graft.core.Json.mapper.readValue(
            in.readAllBytes(), classOf[java.util.Map[String, Object]])
          finally in.close()
        def l(k: String) = m.get(k).asInstanceOf[Number].longValue()
        Some(StoreMeta(l("buckets").toInt, l("rows"), l("datBytes")))
      } catch { case _: Exception => None } // torn/foreign meta = no store
  }

  // ------------------------------------------------------------- idx cache

  /** JVM-global LRU of bucket idx arrays, keyed by (store dir, bucket).
    * Store directories are immutable once renamed in (mutations create a
    * NEW tag), so entries never invalidate — the cap only bounds memory.
    * Sized in BYTES (default 512 MiB ≈ the idx of a 32M-doc corpus): at
    * 16 B/doc an uncached multiget would re-read the touched buckets'
    * whole idx every batch — O(corpus) IO again through the side door. */
  private val IdxCacheMaxBytes = 512L << 20
  private final case class IdxEntry(ids: Array[Long], offsets: Array[Long]) {
    def bytes: Long = 16L * ids.length + 48L
  }
  private val idxCacheBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val idxCache: java.util.Map[(String, Int), IdxEntry] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Int), IdxEntry](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Int), IdxEntry]): Boolean = {
          val evict = idxCacheBytes.get() > IdxCacheMaxBytes && size() > 1
          if (evict) idxCacheBytes.addAndGet(-e.getValue.bytes)
          evict
        }
      })

  private def loadIdx(dir: String, bucket: Int): IdxEntry = {
    val key = (dir, bucket)
    val hit = idxCache.get(key)
    if (hit != null) return hit
    val r =
      try readerFor(dir, s"b$bucket.idx")
      catch {
        case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException =>
          // an empty bucket never wrote files; don't cache
          return IdxEntry(Array.emptyLongArray, Array.emptyLongArray)
      }
    val (ids, offsets) =
      try {
        val n = (r.length / 16L).toInt
        val raw = new Array[Byte](n * 16)
        r.readFully(0L, raw)
        val bb = java.nio.ByteBuffer.wrap(raw)
        val ids = new Array[Long](n)
        val offsets = new Array[Long](n)
        var i = 0
        while (i < n) { ids(i) = bb.getLong; offsets(i) = bb.getLong; i += 1 }
        (ids, offsets)
      } finally r.close()
    val e = IdxEntry(ids, offsets)
    if (idxCache.put(key, e) == null) idxCacheBytes.addAndGet(e.bytes)
    e
  }

  /** Clear the idx cache (spec hygiene between temp indexes). */
  private[graft] def clearIdxCacheForTest(): Unit = {
    idxCache.clear(); idxCacheBytes.set(0L)
  }

  /** Per-JVM multiget segment accounting (profiling aid — meaningful in
    * local mode where executors share the driver JVM; in cluster mode the
    * adders stay executor-local and read 0 on the driver). Nanoseconds;
    * `io` includes preparing each record's scorer (the residual decode). */
  private[graft] object MgProf {
    val idxNs = new java.util.concurrent.atomic.LongAdder
    val ioNs = new java.util.concurrent.atomic.LongAdder
    val scoreNs = new java.util.concurrent.atomic.LongAdder
    val taskNs = new java.util.concurrent.atomic.LongAdder
    val tasks = new java.util.concurrent.atomic.LongAdder
    def reset(): Unit = { idxNs.reset(); ioNs.reset(); scoreNs.reset()
      taskNs.reset(); tasks.reset() }
    def snapshot: String =
      f"tasks=${tasks.sum()} task ${taskNs.sum() / 1e9}%.2f = " +
        f"idx ${idxNs.sum() / 1e9}%.2f + io ${ioNs.sum() / 1e9}%.2f + " +
        f"score ${scoreNs.sum() / 1e9}%.2f core-s"
  }

  // --------------------------------------------------------------- multiget

  /** Score the pooled (query_id, doc_id) pairs against the store: one task
    * per touched bucket; each looks up its ids, reads only the wanted
    * records (gap-coalesced positioned reads), prepares `scorer` once per
    * record from its raw residual bytes, and scores each of the record's
    * pairs by query_id. Pairs whose doc has no record are dropped
    * (inner-join semantics). Returns the lazy (query_id, doc_id, score)
    * stream per task; batch phase-2 keeps a per-query top-k over each
    * task's stream before anything leaves the task. */
  def multigetScore(spark: SparkSession, dir: String, buckets: Int,
      pairs: Array[(Long, Long)],
      scorer: Array[Byte] => Long => Double)
      : org.apache.spark.rdd.RDD[(Long, Long, Double)] = {
    val gap = coalesceGap(spark)
    // the pool rides in ONE broadcast of primitive arrays, NOT in the
    // parallelized collection: a ParallelCollectionRDD's data is part of
    // the task binary, which every task re-deserializes — 306 tasks each
    // deserializing all 54k boxed pairs measured ~23-45 core-s per batch
    // (the whole multiget budget); the broadcast deserializes once per
    // executor and each task reads only its bucket's slice
    val groups: Map[Int, (Array[Long], Array[Long])] =
      pairs.groupBy(p => bucketOf(p._2, buckets))
        .map { case (b, ps) => b -> (ps.map(_._1), ps.map(_._2)) }
    val bcGroups = spark.sparkContext.broadcast(groups)
    // partitions: one bucket per task up to 4 x the cluster's parallelism,
    // then pack buckets (the in-task body is ~1 core-s for a 54k pool —
    // measured MgProf — so hundreds of single-bucket tasks are pure task
    // machinery on a small cluster, while a large one still fans out to
    // every touched bucket)
    val slices = math.max(1, math.min(groups.size,
      spark.sparkContext.defaultParallelism * 4))
    spark.sparkContext
      .parallelize(groups.keys.toSeq.sorted, slices)
      .flatMap { bucket =>
        val tTask0 = System.nanoTime()
        val (bQids, bDids) = bcGroups.value(bucket)
        val tIdx0 = System.nanoTime()
        val idx = loadIdx(dir, bucket)
        MgProf.idxNs.add(System.nanoTime() - tIdx0)
        if (idx.ids.length == 0) Iterator.empty
        else {
          val in = readerFor(dir, s"b$bucket.dat")
          try {
          val datLen = in.length
          // distinct wanted ids -> (offset, length) via the sorted idx
          val wanted = bDids.distinct.sorted
          val found = wanted.flatMap { id =>
            val i = java.util.Arrays.binarySearch(idx.ids, id)
            if (i < 0) None
            else {
              val off = idx.offsets(i)
              val end = if (i + 1 < idx.offsets.length) idx.offsets(i + 1) else datLen
              Some((id, off, (end - off).toInt))
            }
          }
          val byId = new java.util.HashMap[Long, Long => Double](found.length * 2)
          val tIo0 = System.nanoTime()
          if (found.nonEmpty) {
            // coalesce reads: wanted records are offset-sorted (the file
            // shares the idx's doc_id order); merge neighbors with a gap
            // under the threshold into one positioned read
            var i = 0
            while (i < found.length) {
              var j = i
              var end = found(i)._2 + found(i)._3
              while (j + 1 < found.length && found(j + 1)._2 - end <= gap) {
                j += 1
                end = found(j)._2 + found(j)._3
              }
              val start = found(i)._2
              val buf = new Array[Byte]((end - start).toInt)
              in.readFully(start, buf)
              val bb = java.nio.ByteBuffer.wrap(buf)
              var k = i
              while (k <= j) {
                bb.position((found(k)._2 - start).toInt)
                val id = bb.getLong
                require(id == found(k)._1,
                  s"point store corruption in $dir b$bucket.dat: expected " +
                    s"doc ${found(k)._1} at offset ${found(k)._2}, read $id")
                val resLen = bb.getInt
                val res = new Array[Byte](resLen)
                bb.get(res)
                byId.put(id, scorer(res))
                k += 1
              }
              i = j + 1
            }
          }
          MgProf.ioNs.add(System.nanoTime() - tIo0)
          val tSc0 = System.nanoTime()
          val out = new scala.collection.mutable.ArrayBuffer[
            (Long, Long, Double)](bQids.length)
          var i = 0
          while (i < bQids.length) {
            val qid = bQids(i); val did = bDids(i)
            val score = byId.get(did)
            if (score != null) out += ((qid, did, score(qid)))
            i += 1
          }
          MgProf.scoreNs.add(System.nanoTime() - tSc0)
          MgProf.taskNs.add(System.nanoTime() - tTask0)
          MgProf.tasks.add(1L)
          out.iterator
          } finally in.close()
        }
      }
  }
}
