package graft.table

import com.fasterxml.jackson.databind.ObjectMapper

import graft.model.Model
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DriverScan
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** One entry in a snapshot's manifest list (Iceberg manifest-list layering,
  * from scratch). The entry names an immutable manifest FILE holding the
  * per-bucket data-file paths of one commit; `buckets` is the authoritative
  * live-bucket mask — a COW rewrite of bucket b removes b from every older
  * ref rather than rewriting their manifest files, so commit metadata stays
  * O(touched buckets) no matter how many data files the table has.
  * `delta` marks merge-on-read appends: a bucket's files = its single
  * non-delta ref's list ++ every later delta ref's list, in list order.
  */
final case class ManifestRef(path: String, buckets: Set[Int], delta: Boolean)

object ManifestRef {
  /** The manifest-list masking rule of every commit that rewrites buckets:
    * `buckets` leave every prior ref, refs left with no bucket drop out, and
    * `added` go on the end.
    */
  def replace(prior: Seq[ManifestRef], buckets: Set[Int],
      added: Seq[ManifestRef]): Seq[ManifestRef] =
    prior.map(m => m.copy(buckets = m.buckets -- buckets)).filter(_.buckets.nonEmpty) ++ added
}

/** ADAPTIVE bloom filter over a file's distinct conv_ids — the file-skip
  * input that works where min/max bounds cannot: on a HASH-bucketed table
  * every delta file holds a near-uniform sample of the key space, so its
  * (minConv, maxConv) range spans nearly everything and range pruning keeps
  * every file. Bloom membership is layout-independent, so it prunes the
  * files a key CANNOT be in regardless of how keys are spread.
  *
  * Sizing is the load-bearing decision: a fixed small bloom saturates on a
  * bulk-batch delta (tens of thousands of convs) and prunes nothing. So
  * writers TRACK at 2^19 bits (64 KiB — amortized by any file worth a
  * manifest entry) and [[seal]] FOLDS the tracking buffer down by
  * OR-halving (a power-of-two bloom probed by mask is exactly downsampled
  * by OR-ing its halves) to the smallest power of two that keeps fill
  * ≤ 50% (fpp ≤ 1/16 at k = 4), floored at 4096 bits (~684 base64 chars).
  * A tiny file stores the floor; a 30k-conv bulk delta stores the few tens
  * of KiB that keep it prunable; a bloom that is saturated even at full
  * size is DROPPED (stats stay bounds-only) rather than shipped useless.
  *
  * k = 4 probes via double hashing over two murmur3 seeds of the conv's
  * UTF8 bytes; probe index is `hash & (bits-1)` (sizes are powers of two).
  * The write side hashes the task's UTF8String bytes and the probe side
  * hashes `UTF8String.fromString(conv)` — identical bytes, so a false
  * NEGATIVE is impossible by construction: folding only ORs information
  * together, and the probe mask adapts to the stored size.
  */
object ConvBloom {
  import org.apache.spark.unsafe.types.UTF8String
  val TrackLongs = 8192 // 2^19-bit tracking buffer (64 KiB, transient)
  val MinLongs = 64 // 4096-bit storage floor
  private val Seed1 = 0x9747b28c
  private val Seed2 = 0x1b873593

  def empty(): Array[Long] = new Array[Long](TrackLongs)

  private def h(c: UTF8String, seed: Int): Int =
    org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      c.getBaseObject, c.getBaseOffset, c.numBytes, seed)

  def add(bits: Array[Long], c: UTF8String): Unit = {
    val mask = (bits.length << 6) - 1
    val h1 = h(c, Seed1)
    val h2 = h(c, Seed2) | 1 // odd step: the probe walk covers all bits
    var i = 0
    while (i < 4) {
      val idx = (h1 + i * h2) & mask
      bits(idx >> 6) |= 1L << (idx & 63)
      i += 1
    }
  }

  def mightContain(bits: scala.collection.immutable.ArraySeq[Long], conv: String): Boolean = {
    val c = UTF8String.fromString(conv)
    val mask = (bits.length << 6) - 1
    val h1 = h(c, Seed1)
    val h2 = h(c, Seed2) | 1
    var i = 0
    while (i < 4) {
      val idx = (h1 + i * h2) & mask
      if ((bits(idx >> 6) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }

  private def fillRatio(a: Array[Long]): Double = {
    var pop = 0L
    var i = 0
    while (i < a.length) { pop += java.lang.Long.bitCount(a(i)); i += 1 }
    pop.toDouble / (a.length.toLong << 6)
  }

  /** OR-halving: bit b of the half = bits b and b + half of the whole, so
    * `idx & (half·64 - 1)` probes exactly the folded positions — membership
    * is preserved, only the false-positive rate grows with the fold.
    */
  private def fold(a: Array[Long]): Array[Long] = {
    val half = a.length >> 1
    val out = new Array[Long](half)
    var i = 0
    while (i < half) { out(i) = a(i) | a(i + half); i += 1 }
    out
  }

  /** Shrink to the smallest power-of-two size with fill ≤ 50% (floor
    * [[MinLongs]]); None when even the full tracking buffer is ≥ 90% full
    * (a useless always-true filter is not worth its manifest bytes).
    */
  def seal(bits: Array[Long]): Option[scala.collection.immutable.ArraySeq[Long]] = {
    if (fillRatio(bits) > 0.9) return None
    var cur = bits
    while (cur.length > MinLongs && {
        val folded = fold(cur)
        if (fillRatio(folded) <= 0.5) { cur = folded; true } else false
      }) ()
    Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(cur))
  }

  def toBase64(bits: scala.collection.immutable.ArraySeq[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  def fromBase64(s: String): scala.collection.immutable.ArraySeq[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(s)
    require(bytes.length % 8 == 0 && Integer.bitCount(bytes.length >> 3) == 1,
      s"bloom payload must be a power-of-two long count, got ${bytes.length} bytes")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      Array.fill(bytes.length >> 3)(bb.getLong))
  }
}

/** Key statistics of one data file's rows — the file-skipping input
  * (Iceberg's per-file column bounds, for the table's two key columns, plus
  * a conv_id bloom — see [[ConvBloom]] for why bounds alone cannot prune a
  * hash-bucketed layout). Tracked by [[FileStatsTracker]] as each file is
  * written (NO footer reads added), so every replay / COW / MOR /
  * compaction / rebucket / streaming-sink / SQL-write file, the SQL
  * row-level ops' carried-over tombstones included, carries its stats for
  * free; files without (legacy manifests) are never skipped.
  *
  * Range comparisons are in UTF8 BYTE order (`UTF8String.binaryCompare`,
  * unsigned bytes) — the same ordering the tracker uses to compute
  * min/max, so pruning is exact for any conv_id content, ASCII or not.
  * The bloom rides as `ArraySeq[Long]` (value equality, unboxed backing).
  */
final case class FileStats(minConv: String, maxConv: String, minTurn: Int, maxTurn: Int,
    bloom: Option[scala.collection.immutable.ArraySeq[Long]] = None,
    textBloom: Option[scala.collection.immutable.ArraySeq[Long]] = None,
    minTsUs: Option[Long] = None, maxTsUs: Option[Long] = None) {
  import org.apache.spark.unsafe.types.UTF8String
  /** min/max range admission alone (no bloom) — the bounds-only prune. */
  def boundsContainConv(conv: String): Boolean = {
    val c = UTF8String.fromString(conv)
    c.binaryCompare(UTF8String.fromString(minConv)) >= 0 &&
      c.binaryCompare(UTF8String.fromString(maxConv)) <= 0
  }
  def mightContainConv(conv: String): Boolean =
    boundsContainConv(conv) && bloom.forall(ConvBloom.mightContain(_, conv))
  def mightContain(conv: String, turn: Int): Boolean =
    turn >= minTurn && turn <= maxTurn && mightContainConv(conv)
  /** Token-bloom admission for exact-token text search ([[ConvBloom]]'s
    * machinery over whitespace-split `text` tokens, built by the opt-in
    * text-index compaction). A file WITHOUT a token bloom always admits —
    * skipping is only ever justified by positive absence evidence.
    */
  def mightContainToken(token: String): Boolean =
    textBloom.forall(ConvBloom.mightContain(_, token))
  /** Event-time window admission for time-scoped analytics (retention /
    * sessionization over recent days, change-window scans): bounds are over
    * the WRITTEN rows' `ts` in Catalyst micros (null ts excluded by widening
    * to always-admit at the write site — see [[FileStatsTracker]]). A file
    * without ts bounds (legacy manifest, stat-less path) always admits —
    * skipping needs positive absence evidence, never its absence.
    */
  def mightOverlapTs(loUs: Long, hiUs: Long): Boolean = (minTsUs, maxTsUs) match {
    case (Some(lo), Some(hi)) => hi >= loUs && lo <= hiUs
    case _ => true
  }
}

/** One data file in a manifest: path + byte size (+ optional key bounds).
  * The size travels with the metadata so readers (including the
  * bucket-aligned merge scan) never stat files — on an object store a
  * per-file HEAD per commit would dominate.
  */
final case class FileEntry(path: String, bytes: Long, stats: Option[FileStats] = None)

/** A staged (not yet published) COW commit — the WRITE of write-audit-
  * publish (Iceberg's WAP pattern, from scratch). The full distributed
  * merge has run and its manifest + data files exist on disk, but no
  * snapshot references them: readers see nothing, [[LakeTable.readStaged]]
  * audits exactly what publish would make current, and
  * [[LakeTable.publishStaged]] CASes it in as pure metadata. The ref records
  * the merge's [[TableChange]] and `baseVersion`: publish requires the
  * `touched` buckets unchanged since the staging fold read them.
  */
final case class StagedRef(name: String, baseVersion: Long, change: TableChange) {
  def touched: Set[Int] = change.replaced
  def manifest: String = change.refs.head.path
}

/** Snapshot metadata of one table version (Iceberg-style, from scratch —
  * no Iceberg/Delta runtime exists in this environment).
  *
  * Mirrors the reference's folder-level marker files and manifest bookkeeping
  * (/root/reference assets/.../commons.py:28-30 `.ingesting/ingested` markers;
  * manifest scheduled→processed move full-etl.asl.json:604-614) as a single
  * atomic, versioned commit log:
  *   - `manifests`: ordered manifest-list (see [[ManifestRef]]); the snapshot
  *     itself holds NO data-file paths, so writing it is O(buckets + commits
  *     since compaction), independent of table file count — at 10^6 files the
  *     per-commit metadata write is still a few KB
  *   - `committed`: writerId → max committed batchId (the idempotence ledger;
  *     Structured Streaming batchIds are strictly increasing, so one Long per
  *     writer suffices at any scale — O(1) state, not a growing set)
  *   - `bucketRows` + `metrics`: per-bucket stored-row counts + per-commit
  *     metrics (events applied, upserts/deletes, duration) — the reference's
  *     ConversionStats analog.
  */
final case class Snapshot(
    version: Long,
    schemaJson: String,
    numBuckets: Int,
    manifests: Seq[ManifestRef],
    committed: Map[String, Long],
    bucketRows: Map[Int, Long],
    metrics: Map[String, Long],
    parentVersion: Long,
    morDeltas: Boolean = false) {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  def maxBatchId(writerId: String): Long = committed.getOrElse(writerId, -1L)
  /** Whether `writerId` already landed its batch `batchId` (the ledger). */
  def applied(writerId: String, batchId: Long): Boolean = maxBatchId(writerId) >= batchId
  def totalRows: Long = bucketRows.values.sum
}

/** A concurrent [[LakeTable.commit]] won the race to this snapshot version.
  * The loser's data/manifest files are unpublished (invisible to readers,
  * swept by vacuum). [[CommitBuilder.commit]] catches it and resolves the
  * race by the write's conflict rule; [[graft.operators.MergeApplier.rebucket]]
  * rethrows it, since resizing under live writers is the caller's decision.
  */
final class CommitConflictException(val version: Long)
  extends RuntimeException(
    s"snapshot v$version was committed concurrently; rebase against the current snapshot and retry")

/** A bucketed copy-on-write lake table on a filesystem.
  *
  * Layout:
  * {{{
  *   <root>/data/c<version>-<writerId>-<batchId>-<random>/bucket=<b>/part-*.parquet
  *   <root>/meta/snap-<%012d version>.json     (hard-link CAS commit)
  * }}}
  *
  * Readers resolve the highest snapshot version; data files not referenced by
  * it are invisible. Every write ATTEMPT stages into its own directory
  * ([[attemptDir]]'s random suffix), so a crashed or retried attempt never
  * overwrites another's files: its directory is simply never published, and
  * [[vacuum]] sweeps it.
  *
  * Buckets: rows are hash-bucketed by pmod(hash(conv_id, turn_idx), N). A
  * micro-batch rewrites ONLY its touched buckets (copy-on-write), bounding
  * write amplification; at 10^10 rows N scales with the cluster while the
  * per-batch touched-bucket set stays proportional to batch key coverage.
  *
  * Concurrency: MULTIPLE writers with optimistic concurrency (the reference
  * runs a single ingestion EC2 host; scaling past one ingest stream per table
  * needs more). [[commit]] is a true compare-and-swap on the snapshot
  * version: the JSON is staged to a temp file and published with
  * Files.createLink (hard link), which atomically FAILS if the version
  * already exists — unlike ATOMIC_MOVE, which silently replaces it and
  * would lose the race winner's commit. A loser gets
  * [[CommitConflictException]], which [[CommitBuilder.commit]] — the one
  * path every write publishes through — resolves by the write's conflict
  * rule ([[CommitBuilder.OnConflict]]). On S3 this layer would swap the
  * link CAS for a catalog CAS — isolated behind [[commit]].
  */
object LakeTable {
  /** Open an existing table with the bucket count recorded in its newest
    * snapshot (the count is part of the table's physical identity — a handle
    * with a different count would mis-prune and mis-bucket). Falls back to
    * `defaultBuckets` for a not-yet-created table.
    */
  def open(root: String, defaultBuckets: Int = 32): LakeTable = {
    val probe = new LakeTable(root, defaultBuckets)
    probe.currentSnapshot() match {
      case Some(s) if s.numBuckets != defaultBuckets => new LakeTable(root, s.numBuckets)
      case _ => probe
    }
  }

  /** Files.list/walk return streams backed by open directory handles; on a
    * long-lived streaming driver (currentSnapshot once per micro-batch) the
    * un-closed handles leak until GC. Materialize under try/finally.
    */
  private[table] def listing[T, R](s: java.util.stream.Stream[T])(f: Iterator[T] => R): R =
    try f(s.iterator().asScala) finally s.close()
}

final class LakeTable(val root: String, val numBuckets: Int) {
  private val mapper = new ObjectMapper()
  private val metaDir = Paths.get(root, "meta")
  private val dataDir = Paths.get(root, "data")

  def bucketCol = pmod(hash(col("conv_id"), col("turn_idx")), lit(numBuckets))

  // --- snapshot log -------------------------------------------------------

  private def snapshotFiles(): Seq[String] = {
    if (!Files.isDirectory(metaDir)) return Seq.empty
    LakeTable.listing(Files.list(metaDir)) {
      _.map(_.getFileName.toString)
        .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
        .toSeq
    }.sorted
  }

  private def snapName(v: Long) = f"snap-$v%012d.json"
  private val hintPath = metaDir.resolve("version-hint.text")

  /** Resolve the newest snapshot in O(1 + commits since the hint) instead of
    * listing the whole meta directory — currentSnapshot() runs once per
    * micro-batch on a streaming driver, and after 10^5 commits a full
    * listing is the slow path on an object store. The hint is best-effort
    * (written non-atomically AFTER the atomic snapshot publish, so it can
    * only lag): read it, then probe forward version-by-version until the
    * first missing file. Missing/corrupt hint falls back to the listing.
    */
  def currentSnapshot(): Option[Snapshot] = {
    val hinted: Option[Long] =
      try {
        if (Files.exists(hintPath)) Some(Files.readString(hintPath).trim.toLong)
        else None
      } catch { case _: Exception => None }
    hinted.filter(v => Files.exists(metaDir.resolve(snapName(v)))) match {
      case Some(v0) =>
        var v = v0
        while (Files.exists(metaDir.resolve(snapName(v + 1)))) v += 1
        Some(readSnapshot(metaDir.resolve(snapName(v))))
      case None =>
        snapshotFiles().lastOption.map(n => readSnapshot(metaDir.resolve(n)))
    }
  }

  /** Time travel: the snapshot at `version` (exact match). */
  def snapshotAt(version: Long): Option[Snapshot] = {
    val name = f"snap-$version%012d.json"
    if (Files.exists(metaDir.resolve(name))) Some(readSnapshot(metaDir.resolve(name)))
    else None
  }

  def versions(): Seq[Long] =
    snapshotFiles().map(_.stripPrefix("snap-").stripSuffix(".json").toLong)

  private def readSnapshot(p: Path): Snapshot = {
    val m = mapper.readValue(p.toFile, classOf[java.util.Map[String, Object]])
    def longMap[K](key: String, k: String => K): Map[K, Long] =
      m.get(key).asInstanceOf[java.util.Map[String, Object]].asScala
        .map { case (a, b) => k(a) -> b.toString.toLong }.toMap
    Snapshot(
      version = m.get("version").toString.toLong,
      schemaJson = m.get("schemaJson").toString,
      numBuckets = m.get("numBuckets").toString.toInt,
      manifests = m.get("manifests").asInstanceOf[java.util.List[Object]].asScala
        .map { o =>
          val e = o.asInstanceOf[java.util.Map[String, Object]]
          ManifestRef(
            path = e.get("path").toString,
            buckets = e.get("buckets").asInstanceOf[java.util.List[Object]]
              .asScala.map(_.toString.toInt).toSet,
            delta = e.get("delta").toString.toBoolean)
        }.toSeq,
      committed = longMap[String]("committed", identity),
      bucketRows = longMap[Int]("bucketRows", _.toInt),
      metrics = longMap[String]("metrics", identity),
      parentVersion = m.get("parentVersion").toString.toLong,
      morDeltas = Option(m.get("morDeltas")).exists(_.toString.toBoolean))
  }

  /** Atomically publish a snapshot version — a true CAS: of any number of
    * concurrent committers of the same version, exactly ONE succeeds and the
    * rest get [[CommitConflictException]] (see the class doc's concurrency
    * section). The loser's staged temp file is cleaned up here; its data
    * files and manifest stay unpublished until vacuum sweeps them or a
    * rebase re-references them.
    */
  def commit(s: Snapshot): Unit = {
    Files.createDirectories(metaDir)
    awaitCommitGate()
    val target = metaDir.resolve(f"snap-${s.version}%012d.json")
    val j = new java.util.LinkedHashMap[String, Object]()
    j.put("version", java.lang.Long.valueOf(s.version))
    j.put("schemaJson", s.schemaJson)
    j.put("numBuckets", Integer.valueOf(s.numBuckets))
    j.put("manifests", s.manifests.map { r =>
      val e = new java.util.LinkedHashMap[String, Object]()
      e.put("path", r.path)
      e.put("buckets", r.buckets.toSeq.sorted.map(Integer.valueOf).asJava)
      e.put("delta", java.lang.Boolean.valueOf(r.delta))
      e
    }.asJava)
    j.put("committed", s.committed.map { case (k, v) => k -> java.lang.Long.valueOf(v) }.asJava)
    j.put("bucketRows", s.bucketRows.map { case (b, n) => b.toString -> java.lang.Long.valueOf(n) }.asJava)
    // wall-clock commit stamp for `TIMESTAMP AS OF` travel — recorded at
    // publish (not at snapshot construction) so it orders with visibility;
    // absent in pre-stamp snapshots (readers fall back to "not resolvable
    // by time"). Monotonicity across versions is NOT guaranteed under clock
    // skew between writers — time travel resolves to the max STAMPED version
    // at-or-before the ask, the same contract Iceberg documents.
    j.put("metrics", (s.metrics + ("commitMs" -> System.currentTimeMillis()))
      .map { case (k, v) => k -> java.lang.Long.valueOf(v) }.asJava)
    j.put("parentVersion", java.lang.Long.valueOf(s.parentVersion))
    j.put("morDeltas", java.lang.Boolean.valueOf(s.morDeltas))
    val tmp = metaDir.resolve(s".tmp-snap-${s.version}-${System.nanoTime()}.json")
    mapper.writerWithDefaultPrettyPrinter().writeValue(tmp.toFile, j)
    if (!createOnce(tmp, target)) throw new CommitConflictException(s.version)
    // best-effort O(1) resolution hint — written AFTER the atomic publish so
    // it can only lag (readers probe forward); a crash here costs nothing
    try Files.writeString(hintPath, s.version.toString)
    catch { case _: Exception => () }
  }

  /** Publish `tmp` as `target` iff `target` does not exist, atomically;
    * false if it exists. The temp name is dropped either way.
    * Files.createLink is the POSIX CAS primitive: link(2) fails with EEXIST,
    * so of N racing committers exactly one creates the name; the fully-
    * written temp file becomes the published file (same inode). Filesystems
    * without hard links degrade to the pre-checked atomic rename — still
    * torn-write-safe, but last-writer-wins in the (tiny) check-to-move
    * window, i.e. single-writer only there. Snapshot commits and tags share it.
    */
  private def createOnce(tmp: Path, target: Path): Boolean = {
    val created = !Files.exists(target) && // cheap pre-check; the link is the CAS
      (try { Files.createLink(target, tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          true
      })
    Files.deleteIfExists(tmp)
    created
  }

  // --- commit lock (pessimistic fallback) ---------------------------------

  /** An ADVISORY exclusive commit lock for fairness under sustained
    * same-bucket contention. Correctness never depends on it — [[commit]]'s
    * link(2) CAS stays the only serialization point — but a pure-optimistic
    * COW writer can livelock: its conflict re-run is a multi-second Spark
    * job, during which faster rivals land more commits, so it loses every
    * race no matter how many retries (observed with 4 overlapping writers).
    * MergeApplier escalates such a starved writer here: while the lock file
    * exists, every OTHER committer parks at [[awaitCommitGate]], so the
    * holder's next fold-and-CAS cannot lose. This is Iceberg's
    * lock-manager escalation re-expressed over the filesystem: acquisition
    * is the same create-if-absent primitive as the snapshot CAS, ownership
    * is a token (cross-process safe; in-JVM threads each get their own via
    * a ThreadLocal), and a crashed holder's lock expires by mtime after
    * [[lockStaleMs]] — at which point rivals break it and proceed; the CAS
    * still protects them, the stale window only costs fairness.
    */
  private val lockPath = metaDir.resolve("commit.lock")
  private val lockOwner = new ThreadLocal[String]
  private[graft] var lockStaleMs: Long = 600000L

  private def lockIsStale(): Boolean =
    try System.currentTimeMillis() -
      Files.getLastModifiedTime(lockPath).toMillis > lockStaleMs
    catch { case _: Exception => false } // vanished/unreadable: nothing to break

  private def ownsCommitLock(): Boolean = {
    val token = lockOwner.get()
    token != null && (
      try new String(Files.readAllBytes(lockPath),
        java.nio.charset.StandardCharsets.UTF_8) == token
      catch { case _: Exception => false })
  }

  /** Park until no OTHER committer holds the advisory lock (holder passes
    * straight through; a stale lock is ignored — see [[withCommitLock]]).
    */
  private def awaitCommitGate(): Unit =
    while (Files.exists(lockPath) && !ownsCommitLock() && !lockIsStale())
      Thread.sleep(10)

  /** Run `f` holding the exclusive commit lock; see the lock doc above.
    * Not reentrant (the single MergeApplier call site never nests).
    */
  def withCommitLock[T](f: => T): T = {
    val token = java.util.UUID.randomUUID().toString
    Files.createDirectories(metaDir)
    var held = false
    while (!held) {
      try {
        Files.write(lockPath, token.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        held = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          if (lockIsStale()) {
            // Break a crashed holder's lock ATOMICALLY: rename it aside —
            // one winner per lock instance, so two breakers cannot both
            // proceed — then verify the MOVED file really is the stale
            // instance. A blind deleteIfExists here had a TOCTOU: a rival
            // could break the stale lock and CREATE_NEW its own fresh lock
            // between our staleness check and our delete, and we would
            // steal the fresh lock (two "holders" at once, fairness gone
            // exactly in the two-starved-writers case the lock exists for).
            // A fresh rival lock caught in the gap is put back, not stolen;
            // if the put-back collides with a third racer's CREATE_NEW, the
            // displaced holder's release is a token-checked no-op and the
            // commit CAS still serializes correctness — that residual costs
            // fairness only and needs a triple interleaving. The .tmp-
            // prefix keeps a crash-leaked aside file sweepable by vacuum.
            val aside = metaDir.resolve(
              s".tmp-lock-break-${java.util.UUID.randomUUID()}")
            try {
              Files.move(lockPath, aside)
              if (System.currentTimeMillis() -
                  Files.getLastModifiedTime(aside).toMillis > lockStaleMs) {
                Files.deleteIfExists(aside)
              } else {
                try Files.move(aside, lockPath)
                catch { case _: Exception => Files.deleteIfExists(aside) }
              }
            } catch { case _: Exception => () } // rival breaker won: retry
          } else Thread.sleep(25)
      }
    }
    lockOwner.set(token)
    try f
    finally {
      lockOwner.remove()
      // release only if the file still carries OUR token — after a stale
      // break it may be a new holder's lock, which is theirs to release
      try {
        val cur = new String(Files.readAllBytes(lockPath),
          java.nio.charset.StandardCharsets.UTF_8)
        if (cur == token) Files.deleteIfExists(lockPath)
      } catch { case _: Exception => () }
    }
  }

  // --- named refs: tags + write-audit-publish staged commits ----------------

  private def refName(name: String): String = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid ref name '$name'")
    name
  }
  private def tagPath(name: String) = metaDir.resolve(s"ref-${refName(name)}.json")
  private def stagedPath(name: String) = metaDir.resolve(s"wap-${refName(name)}.json")

  /** Tag a snapshot version under an immutable name (Iceberg tags): the
    * tagged version — snapshot JSON, manifests and data files — is retained
    * by [[vacuum]] regardless of `keepLast` until the tag is dropped.
    * Creation is atomic create-if-absent (the commit CAS's link primitive);
    * re-tagging a live name fails loudly — [[dropTag]] first.
    */
  def tag(name: String, version: Long): Unit = {
    require(snapshotAt(version).nonEmpty, s"no snapshot v$version to tag")
    Files.createDirectories(metaDir)
    val tmp = metaDir.resolve(s".tmp-ref-${refName(name)}-${System.nanoTime()}.json")
    val j = new java.util.LinkedHashMap[String, Object]()
    j.put("version", java.lang.Long.valueOf(version))
    mapper.writeValue(tmp.toFile, j)
    if (!createOnce(tmp, tagPath(name))) throw new IllegalStateException(
      s"tag '$name' already exists (tags are immutable — dropTag first)")
  }

  def tags(): Map[String, Long] = {
    if (!Files.isDirectory(metaDir)) return Map.empty
    LakeTable.listing(Files.list(metaDir)) {
      _.map(_.getFileName.toString)
        .filter(n => n.startsWith("ref-") && n.endsWith(".json"))
        .toSeq
    }.map { n =>
      val name = n.stripPrefix("ref-").stripSuffix(".json")
      name -> readTag(name)
    }.toMap
  }

  def readTag(name: String): Long = {
    require(Files.exists(tagPath(name)), s"no tag '$name'")
    mapper.readValue(tagPath(name).toFile, classOf[java.util.Map[String, Object]])
      .get("version").toString.toLong
  }

  def dropTag(name: String): Unit = Files.deleteIfExists(tagPath(name))

  /** Read the table as of a tag — [[read]] at the tagged version. */
  def readTagged(spark: SparkSession, name: String): DataFrame =
    read(spark, asOfVersion = Some(readTag(name)))

  private[graft] def writeStaged(r: StagedRef): Unit = {
    val Ledger.Batch(writerId, batchId) = r.change.ledger
    Files.createDirectories(metaDir)
    val j = new java.util.LinkedHashMap[String, Object]()
    j.put("baseVersion", java.lang.Long.valueOf(r.baseVersion))
    j.put("touched", r.touched.toSeq.sorted.map(Integer.valueOf).asJava)
    j.put("manifest", r.manifest)
    j.put("bucketRows", r.change.rows.map { case (b, n) =>
      b.toString -> java.lang.Long.valueOf(n) }.asJava)
    j.put("writerId", writerId)
    j.put("batchId", java.lang.Long.valueOf(batchId))
    j.put("schemaJson", r.change.schemaJson)
    j.put("metrics", r.change.metrics.map { case (k, v) =>
      k -> java.lang.Long.valueOf(v) }.asJava)
    val tmp = metaDir.resolve(s".tmp-wap-${refName(r.name)}-${System.nanoTime()}.json")
    mapper.writeValue(tmp.toFile, j)
    // atomic replace: re-staging after a crashed/abandoned attempt supersedes
    Files.move(tmp, stagedPath(r.name), StandardCopyOption.ATOMIC_MOVE)
  }

  def stagedRefs(): Seq[String] = {
    if (!Files.isDirectory(metaDir)) return Seq.empty
    LakeTable.listing(Files.list(metaDir)) {
      _.map(_.getFileName.toString)
        .filter(n => n.startsWith("wap-") && n.endsWith(".json"))
        .toSeq
    }.map(_.stripPrefix("wap-").stripSuffix(".json")).sorted
  }

  def readStagedRef(name: String): StagedRef = {
    require(Files.exists(stagedPath(name)), s"no staged commit '$name'")
    val m = mapper.readValue(stagedPath(name).toFile, classOf[java.util.Map[String, Object]])
    val touched = m.get("touched").asInstanceOf[java.util.List[Object]].asScala
      .map(_.toString.toInt).toSet
    StagedRef(name, m.get("baseVersion").toString.toLong, TableChange(
      ledger = Ledger.Batch(m.get("writerId").toString, m.get("batchId").toString.toLong),
      schemaJson = m.get("schemaJson").toString,
      refs = Seq(ManifestRef(m.get("manifest").toString, touched, delta = false)),
      replaced = touched,
      rows = m.get("bucketRows").asInstanceOf[java.util.Map[String, Object]].asScala
        .map { case (b, n) => b.toInt -> n.toString.toLong }.toMap,
      metrics = m.get("metrics").asInstanceOf[java.util.Map[String, Object]].asScala
        .map { case (k, v) => k -> v.toString.toLong }.toMap))
  }

  /** Discard a staged commit: the ref dies now; its unpublished manifest and
    * data files become unreferenced and the next [[vacuum]] sweeps them.
    */
  def dropStaged(name: String): Unit = Files.deleteIfExists(stagedPath(name))

  /** The staged commit's AUDIT view — the builder's candidate of the
    * staged change on its base, i.e. exactly the state publish would make
    * current if nothing commits in between.
    */
  def stagedSnapshot(name: String): Snapshot = {
    val r = readStagedRef(name)
    CommitBuilder.candidate(this, stagedBase(r), r.change)
  }

  private def stagedBase(r: StagedRef): Option[Snapshot] = snapshotAt(r.baseVersion).orElse {
    require(r.baseVersion == 0L, s"staged commit '${r.name}' bases on vacuumed v${r.baseVersion}")
    None
  }

  /** Audit read of a staged commit (live rows, tombstones filtered) —
    * exactly what the table will serve after [[publishStaged]].
    */
  def readStaged(spark: SparkSession, name: String): DataFrame = {
    val s = stagedSnapshot(name)
    readPrunedFiles(spark, s, resolveFiles(s))
      .filter(col("op") =!= Model.OpDelete).drop("op")
  }

  /** PUBLISH of write-audit-publish: CAS the staged commit in as the next
    * snapshot — O(metadata), no data moves. Publishing against a head that
    * advanced since staging REBASES (mask + append, merge ledger/rows/
    * schema) when the winner left the staged commit's touched buckets
    * untouched — the audit still holds; any change to them means the
    * audited content is stale, which only the auditor can resolve:
    * ConcurrentModificationException, drop and re-stage. Exactly-once: a
    * (writerId, batchId) already in the head's ledger publishes as a no-op
    * (the staged copy is dropped).
    */
  def publishStaged(name: String): Snapshot = {
    val r = readStagedRef(name)
    val change = r.change.copy(metrics = r.change.metrics ++
      Map("publishedFromStage" -> 1L, "stagedBase" -> r.baseVersion))
    CommitBuilder.commit(this, stagedBase(r), change,
        CommitBuilder.RebaseIfUnchanged(r.touched)) match {
      case CommitBuilder.Committed(s) =>
        dropStaged(name)
        s
      case CommitBuilder.AlreadyApplied(head) =>
        // the (writer, batch) already landed — a racing publish or the live
        // writer re-applied it; exactly-once makes this staged copy moot
        dropStaged(name)
        head
      case CommitBuilder.Stale(_) =>
        throw new java.util.ConcurrentModificationException(
          s"staged commit '$name' audited buckets " +
            s"${r.touched.toSeq.sorted.mkString("{", ",", "}")} at v${r.baseVersion}, " +
            "which changed concurrently; drop and re-stage")
    }
  }

  // --- manifests ----------------------------------------------------------

  /** Write one commit's per-bucket file lists as an immutable manifest file;
    * returns its path (to be referenced by the next snapshot's manifest
    * list). Torn writes are impossible to observe: a manifest becomes
    * reachable only through a snapshot committed AFTER the atomic move here,
    * and an unreferenced manifest is swept by [[vacuum]].
    */
  def writeManifest(version: Long, files: Map[Int, Seq[FileEntry]]): String = {
    Files.createDirectories(metaDir)
    val target = metaDir.resolve(f"man-$version%012d-${System.nanoTime()}.json")
    val j = new java.util.LinkedHashMap[String, Object]()
    // stat-less entries keep the compact legacy string form; entries with
    // key bounds become objects (conv ids may contain any character, so the
    // bounds ride as separate JSON fields rather than more '|' splits)
    def entry(f: FileEntry): Object = f.stats match {
      case None => s"${f.bytes}|${f.path}"
      case Some(st) =>
        val e = new java.util.LinkedHashMap[String, Object]()
        e.put("e", s"${f.bytes}|${f.path}")
        e.put("c0", st.minConv); e.put("c1", st.maxConv)
        e.put("t0", Integer.valueOf(st.minTurn)); e.put("t1", Integer.valueOf(st.maxTurn))
        st.bloom.foreach(b => e.put("b", ConvBloom.toBase64(b)))
        st.textBloom.foreach(b => e.put("tb", ConvBloom.toBase64(b)))
        st.minTsUs.foreach(v => e.put("s0", java.lang.Long.valueOf(v)))
        st.maxTsUs.foreach(v => e.put("s1", java.lang.Long.valueOf(v)))
        e
    }
    j.put("files", files.map { case (b, fs) =>
      b.toString -> fs.map(entry).asJava }.asJava)
    val tmp = metaDir.resolve(s".tmp-${target.getFileName}")
    mapper.writeValue(tmp.toFile, j)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    target.toString
  }

  /** Manifests are immutable once published, so a driver-side cache makes
    * re-resolution (once per micro-batch on a streaming driver) free. Bounded
    * by a crude clear-on-overflow: entries are small and the live manifest
    * set of one table is O(buckets + deltas since compaction).
    */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Seq[FileEntry]]]()

  def readManifest(path: String): Map[Int, Seq[FileEntry]] = {
    val cached = manifestCache.get(path)
    if (cached != null) return cached
    val m = mapper.readValue(Paths.get(path).toFile,
      classOf[java.util.Map[String, Object]])
    def parseEntry(o: Object): FileEntry = {
      def split(e: String): FileEntry = {
        val cut = e.indexOf('|')
        FileEntry(e.substring(cut + 1), e.substring(0, cut).toLong)
      }
      o match {
        case s: String => split(s) // legacy / stat-less form
        case mm: java.util.Map[_, _] =>
          val e = mm.asInstanceOf[java.util.Map[String, Object]]
          split(e.get("e").toString).copy(stats = Some(FileStats(
            e.get("c0").toString, e.get("c1").toString,
            e.get("t0").toString.toInt, e.get("t1").toString.toInt,
            Option(e.get("b")).map(b => ConvBloom.fromBase64(b.toString)),
            Option(e.get("tb")).map(b => ConvBloom.fromBase64(b.toString)),
            Option(e.get("s0")).map(_.toString.toLong),
            Option(e.get("s1")).map(_.toString.toLong))))
      }
    }
    val files = m.get("files").asInstanceOf[java.util.Map[String, Object]].asScala
      .map { case (b, fs) =>
        b.toInt -> fs.asInstanceOf[java.util.List[Object]].asScala.toSeq.map(parseEntry)
      }.toMap
    if (manifestCache.size > 4096) manifestCache.clear()
    manifestCache.put(path, files)
    files
  }

  /** Resolve a snapshot's live data files, optionally restricted to a bucket
    * set — only manifests whose live-bucket mask intersects the request are
    * read, so a pruned read costs O(relevant manifests), not O(table files).
    * Within a bucket, list order = commit order (base file lists first, then
    * delta appends), which is the order the MOR fold and vacuum rely on.
    */
  def resolveFiles(s: Snapshot, buckets: Option[Set[Int]] = None): Map[Int, Seq[FileEntry]] = {
    val out = scala.collection.mutable.Map.empty[Int, Seq[FileEntry]]
    s.manifests.foreach { ref =>
      val live = buckets.map(ref.buckets.intersect).getOrElse(ref.buckets)
      if (live.nonEmpty) {
        val files = readManifest(ref.path)
        live.foreach { b =>
          val fs = files.getOrElse(b, Seq.empty)
          if (fs.nonEmpty) out.update(b, out.getOrElse(b, Seq.empty) ++ fs)
        }
      }
    }
    out.toMap
  }

  def allFiles(s: Snapshot): Seq[String] =
    resolveFiles(s).values.flatten.map(_.path).toSeq

  /** Per-bucket DELTA depth — how many delta refs cover each bucket — from
    * the manifest LIST alone (no manifest files opened, no I/O beyond the
    * snapshot already in hand). This is the selective-compaction driver:
    * a bucket's read amplification is its depth, so maintenance targets
    * `deltaDepths(s).filter(_._2 >= k).keySet` instead of rewriting the
    * table. Buckets with no deltas are absent from the result.
    */
  def deltaDepths(s: Snapshot): Map[Int, Int] =
    s.manifests.filter(_.delta).flatMap(_.buckets)
      .groupBy(identity).view.mapValues(_.size).toMap

  /** Operational kill-switch for manifest-stats file skipping in the
    * key-addressed lookups (and the bench's honest skip-vs-full comparison).
    * Correctness never depends on skipping — disabling it only reads more.
    */
  var fileSkipping: Boolean = true

  // --- data ---------------------------------------------------------------

  /** A unique staging directory for one apply ATTEMPT. Concurrent writers —
    * or a split-brain second instance of the same writerId — can race the
    * same (version, writerId, batchId) triple; a deterministic name would
    * have them overwriting each other's in-flight data files. Each attempt
    * stages to its own directory instead: published files are referenced by
    * absolute path in the manifest (the directory name is informational),
    * and an abandoned attempt is never referenced, so vacuum sweeps it.
    */
  def attemptDir(version: Long, writerId: String, batchId: Long): Path =
    dataDir.resolve(
      s"c$version-$writerId-$batchId-${java.util.UUID.randomUUID().toString.take(8)}")

  /** The bucket function is part of the table's physical identity: pruning,
    * file layout and every bucket id derive from it. A handle opened with a
    * different count than `s` would silently mis-prune — fail loudly instead.
    */
  private[graft] def checkBuckets(s: Snapshot): Unit = require(s.numBuckets == numBuckets,
    s"table has ${s.numBuckets} buckets; handle opened with $numBuckets")

  /** Read the table rows (including tombstones) at the current snapshot,
    * optionally restricted to a set of buckets (file pruning — the physical
    * partition pruning of the MERGE read path).
    */
  def readRaw(spark: SparkSession, buckets: Option[Set[Int]] = None,
      asOfVersion: Option[Long] = None): DataFrame = {
    asOfVersion.map(v => snapshotAt(v).orElse(
      throw new IllegalArgumentException(s"no snapshot v$v"))).getOrElse(currentSnapshot()) match {
      case None => spark.emptyDataFrame
      case Some(s) =>
        val paths = resolveFiles(s, buckets).values.flatten.map(_.path).toSeq
        if (paths.isEmpty) {
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.schema)
        } else {
          // Explicit schema: old files lack late-added columns; parquet reader
          // fills them with nulls (additive evolution).
          spark.read.schema(s.schema).parquet(paths: _*)
        }
    }
  }

  /** Live rows only (tombstones filtered, bookkeeping dropped); optionally
    * time-traveled to a past snapshot version.
    *
    * Merge-on-read: when the snapshot carries un-compacted delta files
    * (`morDeltas`), a bucket may hold several versions of a key across its
    * base+delta files — the LWW fold runs at read time (it is the same
    * associative rule the writer uses, so COW and MOR states are
    * indistinguishable to readers). Compaction folds deltas back so
    * steady-state reads pay no merge.
    */
  def read(spark: SparkSession, asOfVersion: Option[Long] = None): DataFrame = {
    // a requested version that doesn't exist must throw on EVERY path —
    // falling back to the current snapshot would serve wrong data labeled
    // as the requested version
    val snap = asOfVersion match {
      case Some(v) => Some(snapshotAt(v).getOrElse(
        throw new IllegalArgumentException(s"no snapshot v$v")))
      case None => currentSnapshot()
    }
    // Delta-carrying reads fold bucket-locally (BucketLocal.readFolded):
    // partition i reads bucket i's base + delta files and resolves winners
    // in-task — ZERO exchanges regardless of delta depth. Column pruning is
    // moot on this branch (winner semantics need whole rows). Compacted
    // tables take the plain parquet scan, which keeps full pushdown/pruning
    // for analytical readers.
    val resolved = snap match {
      case Some(s) if s.morDeltas =>
        graft.operators.BucketLocal.readFolded(spark, s, resolveFiles(s))
      case _ => readRaw(spark, None, asOfVersion)
    }
    resolved.filter(col("op") =!= Model.OpDelete).drop("op")
  }

  /** Commit history as a DataFrame (the DESCRIBE HISTORY surface): one row
    * per retained snapshot with its lineage metrics — the queryable face of
    * the reference's per-run ConversionStats + marker files. Reads only the
    * O(retained snapshots) metadata JSONs, never data files.
    */
  def history(spark: SparkSession): DataFrame = {
    import spark.implicits._
    versions().flatMap(snapshotAt).map { s =>
      (s.version, s.parentVersion, s.numBuckets, s.totalRows,
        s.manifests.size, s.manifests.count(_.delta), s.morDeltas,
        s.committed, s.metrics)
    }.toDF("version", "parent_version", "num_buckets", "total_rows",
      "manifests", "delta_manifests", "mor_deltas", "committed", "metrics")
  }

  /** Roll the table back to the state of `toVersion` — as a NEW commit whose
    * manifest list, schema, lineage AND idempotence ledger are the target's
    * (Iceberg's rollback-to-snapshot). O(1) metadata: no data file moves,
    * the new snapshot simply references the old manifests; versions between
    * `toVersion` and the rollback commit become unreferenced once the
    * history expires and are then swept by [[vacuum]].
    *
    * Rolling the LEDGER back is the point: a streaming writer resumed after
    * the rollback re-applies every batch past the target's ledger (its
    * checkpoint replays them; the per-writer maxBatchId check accepts them
    * again), converging the table forward deterministically instead of
    * silently skipping the rolled-back range.
    */
  def rollback(toVersion: Long): Snapshot = {
    val cur = currentSnapshot().getOrElse(
      throw new IllegalStateException("empty table cannot be rolled back"))
    require(toVersion <= cur.version,
      s"cannot roll back to future version $toVersion (current ${cur.version})")
    val target = snapshotAt(toVersion).getOrElse(
      throw new IllegalArgumentException(s"no snapshot v$toVersion (vacuumed?)"))
    val s = target.copy(
      version = cur.version + 1,
      parentVersion = cur.version,
      metrics = Map("rollbackTo" -> toVersion))
    commit(s)
    s
  }

  /** The bucket holding key (convId, turnIdx) — the same murmur3(seed 42) +
    * pmod as [[bucketCol]] and the merge's repartition, evaluated
    * driver-side. The basis of every key-addressed physical pruning
    * ([[lookupTurn]], [[lookupConversation]], IncrementalAgg's refresh).
    */
  def bucketFor(convId: String, turnIdx: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = Murmur3Hash(Seq(
      Literal.create(convId, org.apache.spark.sql.types.StringType),
      Literal(turnIdx)), 42).eval(null).asInstanceOf[Int]
    ((h % numBuckets) + numBuckets) % numBuckets
  }

  /** Point lookup of one turn. The key hash names the ONE bucket that can
    * hold it, so the read opens only that bucket's files — O(table/numBuckets)
    * I/O, not O(table) — and within the bucket only the files whose key
    * bounds and bloom admit the key (unless [[fileSkipping]] is off).
    *
    * Small reads run on the driver: when the pruned files' manifest bytes
    * are at most Spark's `spark.sql.autoBroadcastJoinThreshold` (Spark's
    * own bound for "small enough to collect on the driver"), they are read
    * right here, with the key predicate pushed to parquet row-group
    * filtering and only the key's rows kept (driver memory O(versions of
    * the key)), and the result is a `LocalRelation`: building it and
    * collecting it start no Spark job and create no broadcast. A larger
    * pruned set, or a threshold of -1, takes the Spark path: a parquet scan
    * with the key filter pushed down. Delta-carrying snapshots fold the
    * key's versions first on either path, with the same LWW kernel
    * (`BucketLocal.foldWinners`), so MOR and COW lookups agree.
    */
  def lookupTurn(spark: SparkSession, convId: String, turnIdx: Int): DataFrame = {
    currentSnapshot() match {
      case None => spark.emptyDataFrame
      case Some(s) =>
        // same physical-identity guard as the apply paths: the bucket id is
        // computed from the HANDLE's count, so a handle left stale by a
        // rebucket would silently name the wrong bucket of the new layout
        checkBuckets(s)
        val one = Set(bucketFor(convId, turnIdx))
        // pin the read to the SNAPSHOT the bucket id was derived from — a
        // concurrent commit between resolution and read must not retarget it.
        // File skipping within the bucket: a file whose key bounds exclude
        // the key cannot hold any version of it, so dropping it leaves the
        // key's LWW fold unchanged (sound — bounds are supersets); on a
        // delta-carrying bucket this opens O(files that can hold the key),
        // not O(base + every delta).
        val pruned = resolveFiles(s, Some(one)).map { case (bk, fs) =>
          bk -> (if (fileSkipping)
            fs.filter(_.stats.forall(_.mightContain(convId, turnIdx))) else fs)
        }.filter(_._2.nonEmpty)
        val conv = UTF8String.fromString(convId)
        val base = readPrunedKeys(spark, s, pruned,
          FilterApi.and(convIs(convId), FilterApi.eq(turnCol, Int.box(turnIdx))),
          (c, t) => t == turnIdx && c == conv)
        base.filter(col("conv_id") === convId && col("turn_idx") === turnIdx &&
            col("op") =!= Model.OpDelete)
          .drop("op")
    }
  }

  private def turnCol = FilterApi.intColumn("turn_idx")
  private def convIs(convId: String) =
    FilterApi.eq(FilterApi.binaryColumn("conv_id"), Binary.fromString(convId))

  /** Read an explicitly pruned per-bucket file subset of a pinned snapshot.
    * MOR snapshots fold bucket-locally over exactly these files (the spill
    * decision is per bucket); COW snapshots read them as a plain
    * pushdown-friendly parquet scan.
    */
  private def readPrunedFiles(spark: SparkSession, s: Snapshot,
      pruned: Map[Int, Seq[FileEntry]]): DataFrame = {
    if (pruned.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.schema)
    else if (s.morDeltas) graft.operators.BucketLocal.readFolded(spark, s, pruned)
    else
      spark.read.schema(s.schema).parquet(pruned.values.flatten.map(_.path).toSeq: _*)
  }

  /** The shared tail of the key-addressed lookups: the pruned files' rows
    * (folded on a delta-carrying snapshot), of which the caller keeps the
    * keys `key` admits. Pruned files whose manifest bytes total at most
    * `spark.sql.autoBroadcastJoinThreshold` are read on the driver into a
    * `LocalRelation` holding only the admitted keys' rows (`filter`, the
    * parquet form of `key`, skips row groups); a larger set, or a threshold
    * of -1, is [[readPrunedFiles]].
    */
  private def readPrunedKeys(spark: SparkSession, s: Snapshot,
      pruned: Map[Int, Seq[FileEntry]], filter: FilterPredicate,
      key: (UTF8String, Int) => Boolean): DataFrame = {
    if (DriverScan.withinBound(spark, pruned.valuesIterator.flatten.map(_.bytes).sum))
      DriverScan.localDf(spark, s.schema, graft.operators.BucketLocal.foldFilesOnDriver(
        spark, s.schema, pruned, s.morDeltas, filter, key))
    else readPrunedFiles(spark, s, pruned)
  }

  /** Fetch a whole conversation's live turns — THE read pattern of a
    * transcript store. The turns of one conversation spread across buckets
    * (the bucket key is (conv_id, turn_idx), chosen so hot conversations
    * cannot skew a bucket), but for turn_idx < `maxTurnExclusive` the exact
    * bucket SET is driver-computable: hash each candidate turn id until the
    * set saturates (coupon-collector: ~N·lnN turns fill all N buckets, so a
    * huge bound degrades gracefully to a full-bucket read, never an error).
    * The read opens only those buckets' files whose conv bounds and bloom
    * admit the conversation; the conv_id predicate then skips row groups
    * within them (tight after key-clustered compaction). Turns at or beyond
    * the bound are EXCLUDED by predicate, not silently missed — the result
    * is exact for the declared range. Small reads run on the driver with no
    * Spark job, exactly as in [[lookupTurn]], holding O(versions of the
    * conversation's turns).
    */
  def lookupConversation(spark: SparkSession, convId: String,
      maxTurnExclusive: Int = 4096): DataFrame = {
    require(maxTurnExclusive > 0, s"maxTurnExclusive must be > 0")
    currentSnapshot() match {
      case None => spark.emptyDataFrame
      case Some(s) =>
        checkBuckets(s)
        val buckets = scala.collection.mutable.Set.empty[Int]
        var t = 0
        while (t < maxTurnExclusive && buckets.size < numBuckets) {
          buckets += bucketFor(convId, t)
          t += 1
        }
        // pin to the snapshot the bucket set was derived from (same contract
        // as lookupTurn); within those buckets skip files whose conv bounds
        // exclude this conversation (sound for the fold — every file that
        // can hold any of its turns is read)
        val pruned = resolveFiles(s, Some(buckets.toSet)).map { case (bk, fs) =>
          bk -> (if (fileSkipping)
            fs.filter(_.stats.forall(_.mightContainConv(convId))) else fs)
        }.filter(_._2.nonEmpty)
        val conv = UTF8String.fromString(convId)
        val base = readPrunedKeys(spark, s, pruned,
          FilterApi.and(convIs(convId), FilterApi.lt(turnCol, Int.box(maxTurnExclusive))),
          (c, t) => t < maxTurnExclusive && c == conv)
        base.filter(col("conv_id") === convId &&
            col("turn_idx") < maxTurnExclusive &&
            col("op") =!= Model.OpDelete)
          .drop("op")
    }
  }

  /** Exact-token text search over the table's LIVE rows: return every
    * current winner whose whitespace-split `text` contains `token`
    * verbatim (case-sensitive — the same byte-exact contract the write-side
    * bloom hashed). Files carrying a token bloom (built by the opt-in
    * text-index compaction, [[graft.operators.MergeApplier.compact]]
    * `textIndex = true`) provide absence evidence; a 100-TB transcript grep
    * opens only the buckets that can hold the token.
    *
    * Skip granularity is LWW-soundness-driven: on a delta-carrying snapshot
    * a file-level skip could drop a file holding a NEWER version of a key
    * whose superseded, token-bearing row would then wrongly win, so the
    * fold skips whole BUCKETS (a bucket none of whose files admit the token
    * cannot contribute a match) and reads admitted buckets in full. On a
    * key-unique COW snapshot every stored row is its key's winner, so the
    * skip is per FILE. Files without a token bloom always admit — skipping
    * needs positive evidence, never its absence.
    */
  def searchText(spark: SparkSession, token: String): DataFrame = {
    require(token.nonEmpty && !token.exists(_.isWhitespace),
      s"searchText: token must be a single non-empty word, got '$token'")
    currentSnapshot() match {
      case None => spark.emptyDataFrame
      case Some(s) =>
        checkBuckets(s)
        def admits(f: FileEntry): Boolean =
          !fileSkipping || f.stats.forall(_.mightContainToken(token))
        val all = resolveFiles(s)
        val pruned =
          if (s.morDeltas) all.filter(_._2.exists(admits)) // bucket-granular
          else all.map { case (b, fs) => b -> fs.filter(admits) }
            .filter(_._2.nonEmpty)
        readPrunedFiles(spark, s, pruned)
          .filter(col("op") =!= Model.OpDelete &&
            array_contains(split(col("text"), "\\s+"), token))
          .drop("op")
    }
  }

  /** Vacuum: delete data files not referenced by the newest `keepLast`
    * snapshots, then drop the older snapshot JSONs and any manifest file no
    * kept snapshot points at (masked-out or expired manifests, plus torn
    * manifest/snapshot writes). Returns deleted data-file count. Mirrors
    * Iceberg's expire-snapshots + orphan-file cleanup; also sweeps
    * half-written commit dirs left by crashes (never referenced).
    *
    * `graceMs` (default 1 h): an UNREFERENCED file younger than the grace
    * window is spared — it may belong to an IN-FLIGHT commit from a live
    * writer (data files and the manifest are written BEFORE the snapshot
    * rename publishes them; `.tmp-` files exist between temp write and
    * atomic rename). Deleting those would crash the writer's commit. This
    * is Iceberg's `olderThan` contract for orphan cleanup. Pass 0 only when
    * no writer can be live (tests, decommission).
    */
  def vacuum(keepLast: Int = 1, graceMs: Long = 3600000L): Int = {
    // keepLast = 0 would expire EVERY untagged snapshot (takeRight(0) keeps
    // nothing) and orphan the whole table — there is no legitimate use, so
    // the typo fails loudly instead of destroying the snapshot log
    require(keepLast >= 1, s"vacuum keepLast must be >= 1 (got $keepLast): " +
      "keeping zero snapshots would expire the entire snapshot log")
    val names = snapshotFiles()
    if (names.isEmpty) return 0
    val cutoff = System.currentTimeMillis() - graceMs
    def expendable(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis < cutoff
      catch { case _: java.io.IOException => false } // raced away: not ours
    // Empty-dir collection: under a live writer (graceMs > 0) a dir must be
    // OLD to be swept — a just-created commit dir / _temporary staging tree
    // is briefly empty, and sweeping it mid-commit crashes the writer
    // (found by the vacuum-under-live-tail test). graceMs == 0 is the
    // caller's explicit no-live-writer assertion, where immediate collection
    // of just-emptied dirs is safe (their mtime was refreshed by the file
    // deletes above and would otherwise wait a second sweep).
    def dirExpendable(p: Path): Boolean = graceMs == 0L || expendable(p)
    // Files.walk throws NoSuchFileException (as UncheckedIOException) when a
    // live writer's _temporary task dirs vanish mid-traversal — a sweep under
    // a live tail must tolerate entries disappearing under it, not abort.
    // NOFOLLOW on the recursion check preserves Files.walk's default
    // no-follow semantics: a symlinked dir under data/ (operator relocation)
    // must be neither descended into (its files are not in `referenced` and
    // would be deleted as orphans) nor able to cycle the recursion.
    def walkTolerant(p: Path): Seq[Path] = {
      val children =
        if (!Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) Seq.empty
        else try LakeTable.listing(Files.list(p))(_.toSeq)
          catch { case _: java.io.IOException | _: java.io.UncheckedIOException => Seq.empty }
      p +: children.flatMap(walkTolerant)
    }
    // tagged snapshots are retained regardless of keepLast; staged WAP
    // commits pin their manifest + data files until published or dropped
    val taggedNames = tags().values.map(snapName).toSet
    val keepSet = names.takeRight(keepLast).toSet ++ taggedNames.filter(names.contains)
    val expire = names.filterNot(keepSet.contains)
    val keptSnaps = names.filter(keepSet.contains).map(n => readSnapshot(metaDir.resolve(n)))
    val stagedPins = stagedRefs().flatMap { n =>
      try Some(readStagedRef(n)) catch { case _: Exception => None } // raced away
    }
    val referenced: Set[String] = keptSnaps.flatMap(allFiles).toSet ++
      stagedPins.flatMap { r =>
        try readManifest(r.manifest).values.flatten.map(_.path)
        catch { case _: Exception => Seq.empty }
      }
    var deleted = 0
    if (Files.isDirectory(dataDir)) {
      walkTolerant(dataDir).reverse.foreach { p =>
        if (Files.isRegularFile(p) && !referenced.contains(p.toString) &&
            expendable(p)) {
          // deleteIfExists: between the expendable() check and here a
          // concurrent vacuum (or a crashed writer's own cleanup) can have
          // removed the file — a NoSuchFileException must not abort the
          // sweep and strand the remaining orphans + snapshot expiry
          if (Files.deleteIfExists(p)) deleted += 1
        } else if (Files.isDirectory(p) && p != dataDir && dirExpendable(p)) {
          // A writer racing a file into an old empty dir makes this delete
          // fail non-empty; the dir (or its listing) racing away entirely is
          // equally fine — ignored, nothing to sweep.
          try {
            if (LakeTable.listing(Files.list(p))(_.take(1).toSeq).isEmpty)
              Files.deleteIfExists(p)
          } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => }
        }
      }
    }
    val liveManifests: Set[String] = keptSnaps.flatMap(_.manifests.map(_.path)).toSet ++
      stagedPins.map(_.manifest)
    LakeTable.listing(Files.list(metaDir)) {
      _.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("man-") || n.startsWith(".tmp-")
      }.toSeq
    }.foreach { p =>
      if (!liveManifests.contains(p.toString) && expendable(p)) Files.deleteIfExists(p)
    }
    manifestCache.clear()
    expire.foreach(n => Files.deleteIfExists(metaDir.resolve(n)))
    deleted
  }

  /** Per-bucket parquet footer row counts in one parallel pass sharing one
    * Hadoop Configuration. No write path calls this: every commit takes its
    * row counts from its tasks' [[WrittenFile]]s. It stays as an oracle
    * independent of the write path — specs check `bucketRows` against the
    * files' own footers.
    */
  def footerRowCounts(byBucket: Map[Int, Seq[FileEntry]]): Map[Int, Long] = {
    import org.apache.hadoop.conf.Configuration
    import scala.collection.parallel.CollectionConverters._
    val conf = new Configuration()
    val flat = byBucket.toSeq.flatMap { case (b, fs) => fs.map(f => b -> f.path) }
    val counted = flat.par.map { case (b, f) => b -> footerCount(f, conf) }.seq
    counted.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
  }

  private def footerCount(file: String, conf: org.apache.hadoop.conf.Configuration): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.{Path => HPath}
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(file), conf))
    try r.getRecordCount finally r.close()
  }
}
