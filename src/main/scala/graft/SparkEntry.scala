package graft

import graft.changelog.Changelog
import graft.functions.{Grel, Rml, Text}
import graft.multimodal.Multimodal
import graft.operators.{AnnIndex, BucketLocal, ChangeFeed, Dedup, IncrementalAgg, Lww, MergeApplier, Par, Similarity}
import graft.streaming.{AnnMaintenance, ForkFreeCheckpointFileManager, Replicate}
import graft.table.{ForkFreeLocalFileSystem, LakeTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 that is SQL-expressible appears here twice:
  * once as a Spark query in [[queries]], once as DuckDB SQL in [[oracleSql]].
  * The CDC queries run over the deterministic transcript changelog derived
  * from `events.parquet` ([[graft.changelog.Changelog]]); both sides derive
  * it with bit-identical expressions.
  */
object SparkEntry {

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Flagship: full cold-start replay of the changelog → final table state.
    * Driver smoke-checks rows>0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    replayFinal(spark, "/root/testdata/sf0.001")

  // --- CDC core ---------------------------------------------------------

  private def changelog(s: SparkSession, dir: String): DataFrame =
    Changelog.fromEvents(s, dir)

  private def lwwWinners(s: SparkSession, dir: String): DataFrame =
    Lww.latestByKeyAgg(changelog(s, dir))

  private def replayFinal(s: SparkSession, dir: String): DataFrame =
    lwwWinners(s, dir)
      .filter(col("op") =!= "delete")
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "seq")

  /** Scratch root for the TABLE-BACKED gate queries: these run the REAL
    * engine lifecycle (MergeApplier → LakeTable → read/feed) inside the
    * DuckDB correctness gate, not just the relational fold it must equal.
    * The base dir is unique PER JVM (two concurrent Verify/Bench processes
    * must not clobber each other's tables) but stable within it, and each
    * call rebuilds the named table from scratch (delete + build) so reruns
    * — the bench sweep calls each query three times — are deterministic.
    */
  private lazy val gateRoot: java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft-gate-")

  /** Delete the gate scratch path `name` (table, index or checkpoint) and
    * return it.
    */
  private def gatePath(name: String): String = {
    val p = gateRoot.resolve(name)
    org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
    p.toString
  }

  private def gateTable(name: String): LakeTable =
    new LakeTable(gatePath(name), numBuckets = 8)

  /** Build gate table `name` from the changelog in `k` batches, batch i
    * holding `seq % k = i` shaped by `shape(i, _)` (writer "gate", batch id
    * i), applied in write `mode` (cow or mor), running `after(t, i)` after each.
    * Returns the table and the version each batch committed.
    */
  private def gateBuild(s: SparkSession, dir: String, name: String, k: Int,
      mode: String = "cow", shape: (Int, DataFrame) => DataFrame = (_, b) => b,
      after: (LakeTable, Int) => Unit = (_, _) => ()): (LakeTable, Seq[Long]) = {
    val cl = changelog(s, dir)
    val t = gateTable(name)
    val versions = (0 until k).map { i =>
      val batch = shape(i, cl.filter(col("seq") % k === i))
      val r = MergeApplier.applyBatch(s, t, batch, "gate", i.toLong, mode)
      after(t, i)
      r.version
    }
    (t, versions)
  }

  /** Register the `graftfns` catalog (a LakeCatalog over the gate root)
    * whose functions and procedures the SQL gates call.
    */
  private def graftfns(s: SparkSession): Unit = {
    s.conf.set("spark.sql.catalog.graftfns", classOf[graft.table.LakeCatalog].getName)
    s.conf.set("spark.sql.catalog.graftfns.base", gateRoot.toString)
  }

  /** A stream-backed gate: `writeChunks` stages the input as chunk files in
    * a fresh gate dir, a parquet stream of `schema` tails them one file per
    * trigger, `query` runs over it as an AvailableNow drain to parquet, and
    * the drained output is read back.
    */
  private def streamGate(s: SparkSession, name: String,
      schema: org.apache.spark.sql.types.StructType)(
      writeChunks: java.nio.file.Path => Unit)(query: DataFrame => DataFrame): DataFrame = {
    val base = java.nio.file.Paths.get(gatePath(name))
    val chunks = java.nio.file.Files.createDirectories(base.resolve("chunks"))
    writeChunks(chunks)
    val sdf = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(chunks.toString)
    runAvailableNowToParquet(query(sdf), base.resolve("out").toString,
      base.resolve("ckpt").toString)
    s.read.parquet(base.resolve("out").toString)
  }

  /** Write `df` as one single-parquet-file chunk per distinct value of
    * `chunkIdx` (which must evaluate to 0 until n-1) in ONE Spark job:
    * coalesce(1) + partitionBy writes every chunk's single file in one
    * task, then each file is moved to `dir/c<i+1>.parquet` with mtime
    * (i+1)·10^6 ms — the same files, names and arrival order the former
    * one-job-per-chunk writes produced, minus n-1 jobs of prep per gate.
    * The chunk column is a partition column, so data files exclude it
    * (replacing the former per-chunk drop()).
    */
  private def writeChunksOneJob(df: DataFrame, chunkIdx: org.apache.spark.sql.Column,
      n: Int, dir: java.nio.file.Path, dropCols: Seq[String] = Nil): Unit = {
    import java.nio.file.Files
    val tmp = dir.resolve(".tmp-chunks")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    df.withColumn("__chunk", chunkIdx).drop(dropCols: _*).coalesce(1)
      .write.partitionBy("__chunk").parquet(tmp.toString)
    (0 until n).foreach { i =>
      val pdir = tmp.resolve(s"__chunk=$i")
      val part = { val st = Files.list(pdir)
        try { import scala.jdk.CollectionConverters._
          st.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        } finally st.close() }
      val target = dir.resolve(s"c${i + 1}.parquet")
      Files.move(part, target)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis((i + 1) * 1000000L))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  /** Checkpoint `df` with its ts-split quantiles RIDING the checkpoint job
    * via observe() — the former `stat.approxQuantile` pass was a second full
    * job over the just-checkpointed rows. Returns (checkpointed df,
    * [q33, q66, max]). The sketch differs from approxQuantile's
    * (percentile_approx vs Greenwald-Khanna), which can move the split
    * points slightly — irrelevant by the same invariant that let the splits
    * be approximate at all: ANY ts-range split keeps equal event times in
    * one chunk and cross-chunk arrival in event-time order, and the max is
    * only used to place the far-future sentinel. An input with no non-null
    * `tsCol` value has no split points and fails with a named message.
    */
  private[graft] def checkpointWithTsSplits(df: DataFrame,
      tsCol: String): (DataFrame, Array[Double]) = {
    val obs = org.apache.spark.sql.Observation()
    val ck = df.observe(obs, expr(
      s"percentile_approx(cast($tsCol as double), array(0.33d, 0.66d, 1.0d), 10000)")
      .as("qs")).localCheckpoint(true)
    val qs = obs.get("qs")
    require(qs != null,
      s"checkpointWithTsSplits: no non-null '$tsCol' value in the input, so no ts split points")
    (ck, qs.asInstanceOf[Seq[Double]].toArray)
  }

  /** Split `df` into three ts-range chunks on `tsCol` (split points `t1`/`t2`
    * from [[checkpointWithTsSplits]]) with increasing mtimes (one micro-batch
    * each under maxFilesPerTrigger=1). Equal event times always share a
    * chunk, so cross-chunk arrival respects event-time order — the invariant
    * that keeps every real event ahead of the watermark in the windowed
    * gates (it holds for ANY ts-range split, so the split points only need
    * determinism, not exactness). `extra` rows (the windowed gate's
    * far-future sentinel) land as chunk 3 in the SAME single write job —
    * formerly a separate per-file write job. `drop` strips the helper
    * column. ONE Spark job total.
    */
  private def writeTsChunks(df: DataFrame, chunks: java.nio.file.Path,
      tsCol: String, drop: Boolean, t1: Double, t2: Double,
      extra: Option[DataFrame] = None): Unit = {
    val idx = when(col(tsCol) <= t1, 0).when(col(tsCol) <= t2, 1).otherwise(2)
    val (all, n) = extra match {
      case Some(e) => (df.withColumn("__idx", idx).unionByName(
        e.withColumn("__idx", lit(3)), allowMissingColumns = true), 4)
      case None => (df.withColumn("__idx", idx), 3)
    }
    writeChunksOneJob(all, col("__idx"), n, chunks,
      dropCols = "__idx" +: (if (drop) Seq(tsCol) else Nil))
  }

  /** Run `f` with the session's shuffle-partition count set to
    * [[statePartitions]] — the knob a STREAMING query freezes into its
    * state-store layout at start. The gate streams ingest one small file per
    * trigger, so the session default (sized for the batch sweep's core
    * count) fans each micro-batch into that many state-store commit tasks
    * and delta files for a handful of keys; state partitioning should be
    * sized to state, not to the host. Restored immediately after, so batch
    * queries are untouched.
    */
  private def withStatePartitions[T](s: SparkSession)(f: => T): T =
    Par.withSessionConf(s, Map("spark.sql.shuffle.partitions" -> statePartitions(s).toString))(f)

  /** State-store partition count for the gate streams: a quarter of the
    * parallelism, floored at 4 — derived from the session, not a host
    * constant.
    */
  private def statePartitions(s: SparkSession): Int =
    math.max(4, s.sparkContext.defaultParallelism / 4)

  /** Drain a streaming frame to parquet via Trigger.AvailableNow. Spark's
    * file sink writes its data files through the session's Hadoop conf and
    * takes no writer options, so the drain sets
    * [[ForkFreeLocalFileSystem.conf]] on the session for its
    * length: `file:` data files then get their permissions through java.nio
    * instead of a forked `chmod` each.
    */
  private[graft] def runAvailableNowToParquet(sdf: DataFrame, outDir: String,
      ckpt: String): Unit = {
    val s = sdf.sparkSession
    ForkFreeCheckpointFileManager.install(s)
    Par.withSessionConf(s, ForkFreeLocalFileSystem.conf +
        ("spark.sql.shuffle.partitions" -> statePartitions(s).toString)) {
      val q = sdf.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  /** Embeddings as changelog rows of turn 0 keyed by the string vec_id
    * (`conv_id`), all at `ts` with op `op` and seq `vec_id + seqOff`: the
    * ANN maintenance gates' table input.
    */
  private def annEvents(emb: DataFrame, ts: String, op: String, seqOff: Long): DataFrame =
    emb.select(
      col("vec_id").cast("string").as("conv_id"), lit(0).as("turn_idx"),
      lit("user").as("role"), lit("").as("text"),
      lit(null).cast("string").as("tool"),
      lit(java.sql.Timestamp.valueOf(ts)).as("ts"),
      lit(op).as("op"), (col("vec_id") + seqOff).as("seq"), col("embedding"))

  /** The ANN maintenance lifecycle: commit `base` to a fresh gate table
    * (`<name>_tbl`, writer `writer`), build an IVF index on that state
    * (`<name>_idx`), commit `late`, let AnnMaintenance tail the change feed
    * to catch the index up (`<name>_ckpt`, `mutations` mode), then search
    * the maintained index with an exhaustive probe for the top 5 of the
    * first 8 vectors, ids cast back to long.
    */
  private def annMaintained(s: SparkSession, emb: DataFrame, name: String,
      writer: String, base: DataFrame, late: DataFrame, mutations: String): DataFrame = {
    val t = gateTable(s"${name}_tbl")
    val idxRoot = gatePath(s"${name}_idx")
    val ckpt = gatePath(s"${name}_ckpt")
    val v0 = MergeApplier.applyBatch(s, t, base, writer, 0L).version
    AnnIndex.buildIvf(t.read(s).select(col("conv_id"), col("embedding")),
      idxRoot, nLists = 8, iters = 3, idCol = "conv_id")
    MergeApplier.applyBatch(s, t, late, writer, 1L)
    withStatePartitions(s) {
      AnnMaintenance.runAvailableNow(s, t.root, idxRoot, ckpt,
        idCol = "conv_id", startingVersion = v0.toString, mutations = mutations)
    }
    AnnIndex.searchIvf(s, idxRoot,
      emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("string").as("conv_id"), col("embedding")),
      k = 5, nProbe = 8, idCol = "conv_id")
      .select(col("query_id").cast("long").as("query_id"),
        col("vec_id").cast("long").as("vec_id"), col("cosine"), col("rank"))
  }

  /** The table's final-state columns (op is internal; read() drops it). */
  private val TableCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "seq")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F5/N4/§2.8: projection + CASE routing + typed casts over raw events.
    "cdc_changelog" -> ((s, dir) => changelog(s, dir)),

    // C4/F7/A1 (§2.5): LWW dedup. Engine uses max_by partial agg; the window
    // variant is proven equal in LwwSpec and mirrored by the oracle.
    "cdc_lww_dedup" -> ((s, dir) => lwwWinners(s, dir)),

    // §3.1: cold-start replay → final table state (deletes applied).
    "cdc_replay_final" -> ((s, dir) => replayFinal(s, dir)),

    // A1/A2: max version per key + duplicate-chain length.
    "cdc_max_ts" -> ((s, dir) =>
      changelog(s, dir).groupBy("conv_id", "turn_idx")
        .agg(max("ts").as("max_ts"), count(lit(1)).as("n_versions"))),

    // A3/A4: conversion/apply statistics per op type.
    "cdc_op_stats" -> ((s, dir) =>
      changelog(s, dir).groupBy("op")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("conv_id").as("n_convs"),
          countDistinct("conv_id", "turn_idx").as("n_keys"))),

    // J3: delete anti-join — final surviving keys = all keys minus keys whose
    // LWW winner is a delete.
    "cdc_delete_keys" -> ((s, dir) =>
      lwwWinners(s, dir).filter(col("op") === "delete")
        .select("conv_id", "turn_idx", "ts", "seq")),

    // §2.5 stable turn ordering: final transcript with per-conversation
    // turn rank and previous role (window lag).
    "cdc_turn_order" -> ((s, dir) => {
      val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      // rank cast to long: DuckDB ROW_NUMBER() is BIGINT, keep schemas equal.
      replayFinal(s, dir)
        .withColumn("turn_rank", row_number().over(w).cast("long"))
        .withColumn("prev_role", lag("role", 1).over(w))
    }),

    // Conversation ASSEMBLY — the transcript store's training-example read:
    // full conversation text per conv_id, turns in order, one hash-agg +
    // in-group sort (array_sort on (turn_idx, …) structs; no window, no
    // second shuffle). concat_ws both sides so null text never nulls a line.
    "cdc_conv_assembly" -> ((s, dir) =>
      replayFinal(s, dir)
        .groupBy("conv_id")
        .agg(
          count(lit(1)).as("n_turns"),
          max("ts").as("last_ts"),
          array_join(transform(
            array_sort(collect_list(struct(col("turn_idx"), col("role"), col("text")))),
            t => concat_ws(": ", t.getField("role"), t.getField("text"))), "\n")
            .as("transcript"))),

    // CONVERSATION-level near-dup (the transcript corpus' retry/fork
    // dedup): the replayed table assembles into transcripts, then the
    // inverted-index n-gram Jaccard runs over whole conversations — two
    // existing operators composed end-to-end, CDC replay feeding curation.
    // Threshold 0.1 on the synthetic corpus' similarity range (max ~0.15);
    // production uses 0.8 like the document-level twin.
    "cdc_conv_neardup" -> ((s, dir) => {
      val conv = queries("cdc_conv_assembly")(s, dir)
        .select(col("conv_id"), col("transcript"))
      // maxDocFreq uncapped (advisor r05): the DuckDB mirror has no df cap,
      // so the default 1000 held only while no conversation shingle crossed
      // it — at a larger scale factor the gate would silently diverge for a
      // reason unrelated to the code under test
      graft.operators.Dedup.ngramJaccardPairs(conv, idCol = "conv_id",
        textCol = "transcript", n = 3, minJaccard = 0.1,
        maxDocFreq = Int.MaxValue)
    }),

    // TRANSCRIPT-level curation filter (the payload-specific quality gate a
    // training pipeline runs before export): per conversation — turn count,
    // user-turn count, tool usage, role-alternation violations (adjacent
    // same-role turns), turn-index gaps (deleted turns), mean turn length,
    // keep decision. One windowed pass + one agg on the SAME key: AQE
    // reuses the window's hash partitioning for the groupBy, no second
    // exchange.
    "cdc_conv_quality" -> ((s, dir) => {
      val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      replayFinal(s, dir)
        .withColumn("__same_role",
          when(col("role") === lag(col("role"), 1).over(w), 1L).otherwise(0L))
        .groupBy("conv_id")
        .agg(
          count(lit(1)).as("n_turns"),
          sum(when(col("role") === "user", 1L).otherwise(0L)).as("n_user"),
          bool_or(col("tool").isNotNull).as("has_tool"),
          sum(col("__same_role")).as("role_violations"),
          (max("turn_idx") - min("turn_idx") + 1 - count(lit(1)))
            .cast("long").as("idx_gaps"),
          round(avg(coalesce(length(col("text")), lit(0))), 4).as("mean_chars"))
        .withColumn("keep",
          col("n_turns") >= 2 && col("role_violations") === 0 && col("idx_gaps") === 0)
    }),

    // Sliding context→target pairs (instruction-tuning example mining):
    // each turn with ≥1 predecessor emits (context = up to 3 previous turns
    // joined, target = this turn's text). ONE windowed pass — the frame is
    // ROWS-based so gaps in turn_idx cost nothing.
    "cdc_context_pairs" -> ((s, dir) => {
      val w = Window.partitionBy("conv_id").orderBy("turn_idx")
        .rowsBetween(-3, -1)
      // "has ≥1 predecessor" must be decided on FRAME EMPTINESS, not on the
      // joined string being non-empty: a predecessor whose role and text are
      // both null concats to "" in both engines, and the oracle's string_agg
      // keeps it (NULL only for an empty frame) — so filter on the frame's
      // row count, matching the oracle's IS NOT NULL exactly
      replayFinal(s, dir)
        .withColumn("context", array_join(
          collect_list(concat_ws(": ", col("role"), col("text"))).over(w), "\n"))
        .withColumn("__nctx", count(lit(1)).over(w))
        .filter(col("__nctx") > 0)
        .select(col("conv_id"), col("turn_idx"), col("context"),
          col("text").as("target"))
    }),

    // F7 at scale: the salted two-level window LWW must produce the SAME
    // winners — proven against the same oracle as cdc_lww_dedup.
    "cdc_salted_dedup" -> ((s, dir) =>
      Lww.latestByKeySalted(changelog(s, dir), salts = 16)),

    // U1+C4: replay over an additively-evolved changelog (first half written
    // without `tool`) — winners from the v1 half carry null tool.
    "cdc_evolved_replay" -> ((s, dir) => {
      val cl = changelog(s, dir)
      val v1 = cl.filter(col("seq") % 2 === 0).drop("tool")
      val v2 = cl.filter(col("seq") % 2 === 1)
      Lww.latestByKeyAgg(v1.unionByName(v2, allowMissingColumns = true))
        .filter(col("op") =!= "delete")
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "seq")
    }),

    // The DSv2 BATCH read connector (`format("lake")`): the same 3-batch
    // build read back through spark.read — gates snapshot resolution, the
    // tombstone filter, the live-row projection and (on this COW table) the
    // plain pruned scan path against the relational fold.
    "cdc_lake_source" -> ((s, dir) => {
      val (t, _) = gateBuild(s, dir, "cdc_lake_source", 3)
      s.read.format("lake").option("path", t.root).load()
        .select(TableCols.map(col): _*)
    }),

    // Type-WIDENING evolution through the production merge: batch 0 writes
    // score:int files, batch 1 arrives with score:long (beyond Int range) —
    // the snapshot schema widens, batch 0's int32 files are read PROMOTED
    // (never rewritten) by the fold and the final scan. Oracle recomputes
    // per-row scores relationally and casts to BIGINT.
    "cdc_widened_replay" -> ((s, dir) => {
      val (t, _) = gateBuild(s, dir, "cdc_widened_replay", 2, shape = (i, b) => b.withColumn(
        "score", if (i == 0) col("turn_idx").cast("int") else col("seq") + lit(5000000000L)))
      t.read(s).select((TableCols :+ "score").map(col): _*)
    }),

    // --- the ENGINE ITSELF under the oracle (S10/S13/S14, C2-C5, §3) ----
    // Each of these builds a real LakeTable through the production apply
    // paths and must reproduce the relational fold's state bit-for-bit.

    // C2/C5: four sequential COW merges (batches = seq mod 4 residues — a
    // deterministic out-of-ts-order split) must converge to the one-shot
    // fold: the LWW rule is associative, so batching cannot change state.
    "cdc_table_incremental" -> ((s, dir) => {
      val (t, _) = gateBuild(s, dir, "cdc_table_incremental", 4)
      t.read(s).select(TableCols.map(col): _*)
    }),

    // C8/S14: the same four batches as MOR delta appends, read WITHOUT
    // compaction — gates the zero-shuffle read-time delta fold.
    "cdc_table_mor_read" -> ((s, dir) => {
      val (t, _) = gateBuild(s, dir, "cdc_table_mor_read", 4, mode = "mor")
      t.read(s).select(TableCols.map(col): _*)
    }),

    // Spill-safe fold: the SAME build read through the sort-spill path
    // (a spill threshold of 0 bytes forces the policy; the read plans its
    // spill set inside the scope) — the disk-backed fold for a bucket that
    // outgrew its executor must produce bit-identical winners.
    "cdc_spill_fold" -> ((s, dir) => {
      val (t, _) = gateBuild(s, dir, "cdc_spill_fold", 4, mode = "mor")
      Par.withSessionConf(s, Map(BucketLocal.SpillFoldBytesKey -> "0")) {
        t.read(s).select(TableCols.map(col): _*)
      }
    }),

    // C8: MOR appends + a full compaction — gates the bucket-local
    // fold-and-rewrite (and its key-clustered output) against the oracle.
    "cdc_table_mor_compact" -> ((s, dir) => {
      val (t, _) = gateBuild(s, dir, "cdc_table_mor_compact", 4, mode = "mor")
      MergeApplier.compactRetainTombstones(s, t)
      t.read(s).select(TableCols.map(col): _*)
    }),

    // Token-bloom text search through the production lifecycle: MOR builds,
    // a text-INDEXED compaction, then an exact-token search that reads only
    // admitting buckets — must equal the relational fold + token filter.
    "cdc_text_search" -> ((s, dir) => {
      val (t, _) = gateBuild(s, dir, "cdc_text_search", 3, mode = "mor")
      MergeApplier.compactRetainTombstones(s, t, textIndex = true)
      t.searchText(s, "purchase").select(TableCols.map(col): _*)
    }),

    // Time travel: two COW merges, then read AS OF the first commit — the
    // snapshot isolation the manifest list provides.
    "cdc_time_travel" -> ((s, dir) => {
      val (t, Seq(v1, _)) = gateBuild(s, dir, "cdc_time_travel", 2)
      t.read(s, asOfVersion = Some(v1)).select(TableCols.map(col): _*)
    }),

    // Rollback: same build, roll the head back to the first commit — the
    // rolled-back HEAD must serve exactly the time-traveled state.
    "cdc_rollback" -> ((s, dir) => {
      val (t, Seq(v1, _)) = gateBuild(s, dir, "cdc_rollback", 2)
      t.rollback(v1)
      t.read(s).select(TableCols.map(col): _*)
    }),

    // Change Data Feed: the incremental-read side — the row-level
    // insert/update/delete feed between the two commits, diffed
    // bucket-locally from the manifests (ChangeFeed); the oracle derives
    // the same feed from the two folded states with a full outer join.
    "cdc_change_feed" -> ((s, dir) => {
      val (t, Seq(v1, v2)) = gateBuild(s, dir, "cdc_change_feed", 2)
      ChangeFeed.changesBetween(s, t, v1, v2)
        .select((ChangeFeed.ChangeTypeCol +: TableCols).map(col): _*)
    }),

    // Incremental view maintenance over the feed: per-conv stats at v1 plus
    // the pre/post-image feed window v1→v2 must equal the full recompute at
    // v2 (the defining invariant of subtractable-aggregate maintenance) —
    // which is what the DuckDB oracle computes from the final fold.
    "cdc_incr_agg" -> ((s, dir) => {
      val (t, Seq(v1, v2)) = gateBuild(s, dir, "cdc_incr_agg", 2)
      val prev = IncrementalAgg.convStats(t.read(s, asOfVersion = Some(v1)))
      IncrementalAgg.maintain(prev,
        ChangeFeed.changesBetween(s, t, v1, v2, withUpdatePreImages = true))
    }),

    // The TABLE-BACKED view: four base batches, the stats view refreshed
    // after each (bootstrap + 3 incremental O(Δ) cycles through the MERGE
    // engine) — its final contents must equal the same full recompute.
    "cdc_incr_agg_table" -> ((s, dir) => {
      val v = gateTable("cdc_incr_agg_view")
      var from = 0L
      gateBuild(s, dir, "cdc_incr_agg_table", 4,
        after = (t, _) => from = IncrementalAgg.refreshIntoTable(s, t, v, from))
      v.read(s).select(("conv_id" +: IncrementalAgg.StatCols).map(col): _*)
    }),

    // The DSv2 streaming change-feed source + exactly-once table→table
    // replication, end to end: build source table A in 3 COW batches, tail
    // its change data feed (`format("lake-cdf")`, one commit per trigger)
    // into replica B through streaming MERGE applies, return B's state —
    // which must equal the one-shot relational fold of the changelog. This
    // gates offsets-as-versions, the per-changed-bucket diff readers, the
    // tombstone delete contract, and the replica's batchId-ledger dedup in
    // one oracle query.
    "cdc_replicated" -> ((s, dir) => {
      val (a, _) = gateBuild(s, dir, "cdc_replicated_src", 3)
      val b = gateTable("cdc_replicated_dst")
      val ckpt = gatePath("cdc_replicated_ckpt")
      withStatePartitions(s) {
        Replicate.runAvailableNow(s, a.root, b, ckpt, maxVersionsPerTrigger = 1)
      }
      b.read(s).select(TableCols.map(col): _*)
    }),

    // Continuous materialized view: the same 3-batch source build, but the
    // per-conversation stats view maintained by a STREAMING query over the
    // lake-cdf feed (pre-images on, one commit per trigger ⇒ bootstrap +
    // per-commit incremental refreshes through the exactly-once view ledger).
    // Its final contents must equal the DuckDB full recompute — the identical
    // oracle as the pull-refresh gates, proving push and pull maintenance
    // cannot drift.
    "cdc_streaming_view" -> ((s, dir) => {
      val (t, _) = gateBuild(s, dir, "cdc_streaming_view_base", 3)
      val v = gateTable("cdc_streaming_view_view")
      val ckpt = gatePath("cdc_streaming_view_ckpt")
      withStatePartitions(s) {
        graft.streaming.StreamingView.runAvailableNow(s, t.root, v, ckpt,
          maxVersionsPerTrigger = 1)
      }
      v.read(s).select(("conv_id" +: IncrementalAgg.StatCols).map(col): _*)
    }),

    // C6/C7 as an ORACLE gate (was spec-only): the stateful streaming funnel
    // (flatMapGroupsWithState) driven over the events table in THREE
    // ts-ordered chunks (one file per micro-batch), i.e. exactly the
    // per-key-event-time-ordered arrival its contract names. Final per-key
    // depth + reach times must equal the batch funnel / its DuckDB oracle —
    // the cross-batch state handoff is what's being proven.
    "q_funnel_stream" -> ((s, dir) => {
      import graft.streaming.StatefulFunnel
      val steps = Seq("signup", "view", "click", "purchase")
      // testdata ts is TIMESTAMP_NTZ; unix_micros needs LTZ — under the UTC
      // session the cast is wall-clock identity
      val (ev, qs) = checkpointWithTsSplits(
        table(s, dir, "events").filter(col("event_type").isin(steps: _*))
          .select(col("user_id").cast("string").as("key"),
            unix_micros(col("ts").cast("timestamp")).as("tsMicros"),
            col("event_type").as("step")),
        "tsMicros")
      implicit val evEnc = org.apache.spark.sql.Encoders.product[StatefulFunnel.FunnelEvent]
      val res = streamGate(s, "q_funnel_stream", ev.schema)(
        writeTsChunks(ev, _, "tsMicros", drop = false, qs(0), qs(1)))(
        sdf => StatefulFunnel.progress(sdf.as[StatefulFunnel.FunnelEvent], steps).toDF())
      val w = Window.partitionBy("key").orderBy(col("depth").desc)
      // back to NTZ so the schema equals the batch funnel's (UTC identity)
      def reachTs(i: Int) = when(col("depth") >= i,
        timestamp_micros(element_at(col("reachMicros"), i))
          .cast("timestamp_ntz")).otherwise(lit(null))
      res.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("key").cast("bigint").as("user_id"),
          reachTs(1).as("ts_signup"), reachTs(2).as("ts_view"),
          reachTs(3).as("ts_click"), reachTs(4).as("ts_purchase"),
          col("depth").cast("long").as("funnel_depth"))
    }),

    // C6 streaming dedup as an ORACLE gate (was spec-only): feed the
    // changelog's rows — texted so each distinct content has up to three
    // copies — as three chunks where copy #n arrives in micro-batch n.
    // Within a chunk every content is unique (no intra-batch winner
    // nondeterminism), so the engine's dropDuplicatesWithinWatermark state
    // must emit EXACTLY the first-arriving copy of every content and drop
    // the later chunks' copies via cross-batch state: the output equals the
    // deterministic rn=1 rows the oracle computes relationally.
    "text_dedup_stream" -> ((s, dir) => {
      import graft.streaming.StreamingDedup
      val cl = changelog(s, dir)
      val dt = concat_ws(":", col("role"), (col("turn_idx") % 50).cast("string"))
      val w = Window.partitionBy("dtext").orderBy("ts", "seq")
      // `wm` is the watermark column (LTZ — the engine's requirement); `ts`
      // stays NTZ so the output schema matches the oracle's
      val feed = cl.withColumn("dtext", dt)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .withColumn("wm", col("ts").cast("timestamp"))
        .select("conv_id", "turn_idx", "ts", "wm", "seq", "dtext", "rn")
      // no checkpoint: the chunk write is the feed's only consumer (schema
      // access plans, never executes)
      streamGate(s, "text_dedup_stream", feed.drop("rn").schema)(
        writeChunksOneJob(feed, col("rn") - 1, 3, _, dropCols = Seq("rn")))(
        // ttl beyond the data's whole span: horizon-eviction re-emission is
        // out of frame here (it is exercised in StreamingOpsSpec); this gate
        // pins the cross-batch state hit itself
        StreamingDedup.firstSeen(_, textCol = "dtext", tsCol = "wm",
          ttl = "36500 days"))
        .select("conv_id", "turn_idx", "ts", "seq", "dtext")
    }),

    // C6 stateful LWW change feed as an ORACLE gate (was spec-only): the
    // flatMapGroupsWithState winner store (StatefulLww — the reference's
    // Redis max-version CAS re-expressed over the Spark state store) driven
    // over the changelog in THREE seq-sharded micro-batches (seq % 3 — each
    // batch carries out-of-ts-order events, exercising cross-batch LWW).
    // The FULL emission set is compared, not just final winners: a key
    // emits at batch k iff that batch's (ts,seq)-max candidate strictly
    // beats the stored winner and the new winner is not a delete — mirrored
    // relationally by the oracle's per-(key, chunk) candidate + running-max
    // + lag filter. Deletes update state silently (no emission) and stale
    // later arrivals cannot resurrect them; both behaviors fall out of the
    // same filter.
    "cdc_stateful_lww" -> ((s, dir) => {
      import graft.model.{ChangeEvent, Model}
      // NTZ → LTZ (UTC identity): the Dataset encoder's ts is TimestampType.
      // No checkpoint: the chunk write is the only consumer (schema access
      // plans, never executes)
      val cl = changelog(s, dir)
        .withColumn("ts", col("ts").cast("timestamp"))
      streamGate(s, "cdc_stateful_lww", cl.schema)(
        writeChunksOneJob(cl, pmod(col("seq"), lit(3)).cast("int"), 3, _))(
        sdf => graft.streaming.StatefulLww.changeFeed(
          sdf.as[ChangeEvent](Model.changeEventEncoder)).toDF())
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("tool"), col("ts").cast("timestamp_ntz").as("ts"), col("seq"))
    }),

    // C7 event-time windows as an ORACLE gate (was spec-only): tumbling
    // 1-hour op counts under a 2-hour watermark (WindowedStats), driven over
    // THREE ts-range-ordered chunks plus a far-future sentinel whose
    // watermark advance FINALIZES every real window (append mode emits only
    // closed windows; the sentinel's own window stays open and is excluded
    // by op). Chunks are ts-range partitioned, so no real event is ever
    // late — the oracle is the plain tumbling GROUP BY over the changelog.
    "cdc_windowed_counts" -> ((s, dir) => {
      val (cl, qs) = checkpointWithTsSplits(
        changelog(s, dir)
          .select(col("conv_id"), col("op"), col("ts").cast("timestamp").as("ts"))
          .withColumn("tsMicros", unix_micros(col("ts"))),
        "tsMicros")
      val mx = qs(2).toLong // exact: the sketch retains the max; micros < 2^53
      val sentinel = s.range(1).select(lit("zz").as("conv_id"),
        lit("sentinel").as("op"),
        timestamp_micros(lit(mx + 365L * 24 * 3600 * 1000000L)).as("ts"))
      // the sentinel's watermark advance only flushes the real windows if a
      // post-sentinel no-data micro-batch runs — pin the default for the
      // drain so a session-level override cannot silently starve the gate
      val windows = Par.withSessionConf(s,
          Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "true")) {
        streamGate(s, "cdc_windowed_counts", sentinel.schema)(
          writeTsChunks(cl, _, "tsMicros", drop = true, qs(0), qs(1),
            extra = Some(sentinel)))(
          sdf => graft.streaming.WindowedStats.opCountsPerWindow(sdf)
            .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"), col("op"), col("n_events")))
      }
      windows.filter(col("op") =!= "sentinel")
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("window_end").cast("timestamp_ntz").as("window_end"),
          col("op"), col("n_events"))
    }),

    // Conversation fetch — THE point read of a transcript store: the exact
    // bucket set for turn_idx < bound is driver-computed (no scan outside
    // it), and the result must equal the plain filtered fold.
    "cdc_conv_lookup" -> ((s, dir) => {
      val (t, _) = gateBuild(s, dir, "cdc_conv_lookup", 2)
      val cids = t.read(s).select("conv_id").distinct()
        .orderBy("conv_id").limit(5).collect().map(_.getString(0))
      cids.map(c => t.lookupConversation(s, c).select(TableCols.map(col): _*))
        .reduce(_ unionByName _)
    }),

    // --- relational surface (SURVEY §2.2/2.3/2.4/2.6) -------------------

    // window beyond row_number: running revenue + previous-ship gap per
    // supplier (frame spec + lag).
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      table(s, dir, "lineitem")
        .filter(col("l_suppkey") < 50)
        .select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(sum(col("l_extendedprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).as("running_rev"),
          lag("l_shipdate", 1).over(w).as("prev_ship"))
    }),

    // A: multi-aggregate scan with pushed filter (TPC-H Q1 shape).
    "q1_agg" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("count_order"))),

    // J1: star join. Only the CONSTANT-size dim (nation, 25 rows) carries a
    // broadcast hint; customer grows with scale factor, so its join is left
    // to AQE (which broadcasts at runtime while it fits, shuffles beyond).
    "q_join_dim" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
    }),

    // J3-shape: anti join (customers that never ordered).
    "q_anti_join" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    // L/top-k: top-3 orders per customer, deterministic tie-break.
    "q_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      table(s, dir, "orders")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    }),

    // U1/U2: set operations (union-distinct + except).
    "q_set_ops" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      def users(t: String) = ev.filter(col("event_type") === t).select("user_id")
      users("click").union(users("signup")).distinct()
        .except(users("error"))
    }),

    // U1 schema evolution: v1 slice (no tool) ∪ v2 slice via unionByName.
    "q_union_evolution" -> ((s, dir) => {
      val cl = changelog(s, dir)
      val v1 = cl.filter(col("seq") % 2 === 0).drop("tool")
      val v2 = cl.filter(col("seq") % 2 === 1)
      v1.unionByName(v2, allowMissingColumns = true)
    }),

    // §2.8 scalar surface: RML/GREL functions over orders.
    "q_scalar_fns" -> ((s, dir) =>
      table(s, dir, "orders").select(
        col("o_orderkey"),
        Rml.generateHashedIri("urn:order:",
          col("o_orderkey").cast("string"), col("o_orderstatus")).as("iri"),
        Rml.normalizeDate(date_format(col("o_orderdate"), "yyyy")).as("year_norm"),
        Grel.toUppercase(col("o_orderpriority")).as("pri_upper"),
        Grel.slice(col("o_orderpriority"), 0, 1).as("pri_first"),
        Grel.strLength(col("o_orderpriority")).cast("long").as("pri_len"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        Grel.md5Col(col("o_orderpriority")).as("pri_md5"),
        Grel.containsCol(col("o_orderpriority"), "URGENT").as("is_urgent"))),

    // §2.8 GREL completion: escape/unescape modes, rpartition, strip over a
    // quote/brace-rich column (events.props is JSON text).
    "q_grel_escape" -> ((s, dir) => {
      val (rb, rs, ra) = Grel.rpartitionParts(col("props"), ":")
      // Probe suffix pins the commons-text entity semantics in the gate:
      // props is plain ASCII JSON, so without it the hash could not tell
      // the full HTML4 entity table / ecmascript \uXXXX escaping from a
      // naive replace chain. The oracle mirrors the CONSTANT's escape.
      val probe = concat(col("props"), lit("é<'"))
      table(s, dir, "events").select(
        col("event_id"),
        Grel.escapeCol(probe, "html").as("esc_html"),
        Grel.escapeCol(col("props"), "csv").as("esc_csv"),
        Grel.escapeCol(probe, "javascript").as("esc_js"),
        Grel.unescapeCol(Grel.escapeCol(probe, "xml"), "xml").as("xml_rt"),
        Grel.unescapeCol(Grel.escapeCol(probe, "javascript"), "javascript").as("js_rt"),
        rb.as("rp_before"), rs.as("rp_sep"), ra.as("rp_after"),
        Grel.strip(col("props")).as("stripped"))
    }),

    // N4-style JSON extraction + cast-with-placeholder validation mode.
    "cdc_props_extract" -> ((s, dir) =>
      table(s, dir, "events").select(
        col("event_id"),
        Rml.castWithPlaceholder(get_json_object(col("props"), "$.k"),
          org.apache.spark.sql.types.IntegerType, 0).as("k_val"))),

    // --- training-data curation ops (documents / embeddings tables) ------

    "dedup_exact" -> ((s, dir) => Dedup.exact(table(s, dir, "documents"))),

    // Vocabulary building (corpus token top-k): explode → hash agg → top-k
    // under a deterministic TOTAL order (count desc, token asc) so the
    // boundary ties select the same set in both engines. One shuffle for the
    // agg (map-side partial combine collapses the token fan-out), one for
    // the global top-k of an already-aggregated (vocabulary-sized) frame.
    "text_vocab_topk" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(100)),

    // Deterministic hash-based stratified sampling: the oracle evaluates the
    // IDENTICAL md5 predicate, so the row SETS match, not just the rates.
    // en halved, de kept whole, fr quartered; zh/es unconfigured → dropped.
    "text_stratified_sample" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedSample(table(s, dir, "documents"),
        Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25), stratumCol = "lang")
        .select("doc_id", "lang")),

    // Target-MIXTURE sampling with upsampling epochs (the Pile/LLaMA
    // data-mixing step): weights are OUTPUT proportions, rates derived
    // from the domain histogram; rate > 1 emits whole copies (epoch col)
    // plus an md5-coin remainder. en/zh at 40% each and de at 20% of a
    // 600-row budget all land above rate 1 on this corpus -> upsampling is
    // exercised, not just filtering; es/fr are unweighted -> dropped.
    "text_mixture_sample" -> ((s, dir) =>
      graft.operators.Sampling.mixtureSample(table(s, dir, "documents"),
        Map("en" -> 0.4, "zh" -> 0.4, "de" -> 0.2), totalRows = 600L,
        domainCol = "lang")
        .select("doc_id", "lang", "epoch")),

    // Balanced per-stratum sampling: exactly min(k, |stratum|) docs per
    // language in deterministic md5 order — the count-budget counterpart of
    // the rate-based stratified sample.
    "text_balanced_sample" -> ((s, dir) =>
      graft.operators.Sampling.balancedSample(table(s, dir, "documents"),
        k = 40, stratumCol = "lang")
        .select("doc_id", "lang", "rk")),

    // uncapped (maxDocFreq larger than the corpus): pure oracle parity for
    // the inverted-index jaccard itself.
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(table(s, dir, "documents"), n = 3,
        minJaccard = 0.8, maxDocFreq = 1000000)),
    // CAPPED: the stop-shingle skew guard (the plan that runs at 100×) under
    // the same oracle — DuckDB mirrors the df≤50 representation exactly.
    "dedup_ngram_jaccard_capped" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(table(s, dir, "documents"), n = 3,
        minJaccard = 0.8, maxDocFreq = 50)),

    // Cluster assignment over the CAPPED jaccard pair graph (df≤50 — the
    // scale-safe config, mirrored exactly by the oracle): the dedup
    // DELIVERABLE (one keeper per near-dup cluster). DuckDB mirrors with a
    // recursive transitive closure; min reachable id = cluster id.
    "dedup_clusters" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.connectedComponents(docs,
        Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.8, maxDocFreq = 50))
    }),
    // Same deliverable via alternating star contraction — the O(log n)-round
    // variant for adversarial component diameters; identical oracle.
    "dedup_clusters_star" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.connectedComponentsStar(docs,
        Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.8, maxDocFreq = 50))
    }),

    // NEAR-EXHAUSTIVE banding (32 bands × 2 hashes): a jaccard≥0.7 pair is
    // missed only if every band's 2-hash key differs — p ≤ (1-0.7²)^32 ≈
    // 4.5e-10 — so the full LSH path (signature, banding, bucket join, exact
    // verify) shares the brute-force jaccard oracle (the ann_ivf_topk
    // full-probe trick). 2-hash bands collide with prob J² instead of J,
    // which cuts low-similarity candidate volume ~10× vs 64×1 banding at
    // the same (vanishing) miss bound. Production banding (bands=16) recall
    // is measured in Bench ("recall").
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(table(s, dir, "documents"), n = 3,
        numHashes = 64, bands = 32, minJaccard = 0.7)),
    // rows-only: signature hashes (xxhash64) have no DuckDB mirror; recall
    // vs the exact Hamming ground truth is measured in Bench ("recall" — the
    // 4×16-bit banding is pigeonhole-complete for maxHamming ≤ 3).
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(table(s, dir, "documents"), maxHamming = 3)),

    "text_stats" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        round(Text.meanTokenLen(col("text")), 4).as("mean_token_len"),
        round(Text.punctRatio(col("text")), 6).as("punct_ratio"),
        round(Text.alphaRatio(col("text")), 6).as("alpha_ratio"))),

    "text_token_bpeish" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        Text.tokenCountBpeish(col("text")).cast("long").as("n_pieces"))),

    "text_langid" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"), Text.langIdHeuristic(col("text")).as("lang_pred"))),

    "text_quality" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"), Text.qualityScore(col("text")).as("quality"))),

    "text_fingerprint" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"), Text.fingerprint(col("text"), 3).as("fingerprint"))),

    // Gopher-style INTRA-document repetition stats + keep decision:
    // duplicate word/2-gram/3-gram fractions as pure per-row expressions
    // (shuffle-free; the filter cross-document dedup cannot express).
    "text_repetition" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        round(Text.dupNgramFrac(col("text"), 1), 6).as("dup_word_frac"),
        round(Text.dupNgramFrac(col("text"), 2), 6).as("dup_2gram_frac"),
        round(Text.dupNgramFrac(col("text"), 3), 6).as("dup_3gram_frac"),
        Text.repetitionKeep(col("text")).as("keep"))),

    // Benchmark decontamination (GPT-3/Llama eval-overlap): docs sharing any
    // word 4-gram with the benchmark slice (doc_id % 25 == 0) are flagged
    // with their distinct-overlap count. Benchmark grams broadcast; corpus
    // side never shuffles before the per-doc count agg. Production n is
    // 8–13; n=4 matches the synthetic corpus' ~50-token documents.
    "text_decontaminate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      graft.operators.Dedup.contamination(
          docs.filter(col("doc_id") % 25 =!= 0),
          docs.filter(col("doc_id") % 25 === 0), n = 4)
        .select(col("id").as("doc_id"), col("n_overlap"))
    }),

    // Exact-substring duplicated-span stats (Lee et al. 2021 ExactSubstr):
    // a k-token window occurring more than once ANYWHERE in the corpus
    // (within-doc repeats included) marks its span; per doc the covered
    // spans merge gaps-and-islands style into the covered-token count,
    // fraction, and keep decision. k=12 sized to the synthetic corpus'
    // 10-99-token documents (production default is the paper's ~50); at
    // sf0.01 it flags 45/500 docs, so both branches of the left join and
    // the island merge are exercised.
    "text_exact_substr" -> ((s, dir) =>
      graft.operators.Dedup.exactSubstrStats(
        table(s, dir, "documents"), k = 12, maxDupFrac = 0.2)),

    // BPE tokenizer training, distributed leg: the corpus-sized word-freq
    // pass + the first merge iteration's weighted adjacent-pair counts
    // (chars + </w>), hash-matched. The merge LOOP is vocab-sized by
    // construction and fits in memory behind Bpe.train's deterministic cap.
    "text_bpe_pairs" -> ((s, dir) =>
      graft.operators.Bpe.pairCounts(
        graft.operators.Bpe.wordFreq(table(s, dir, "documents")))),

    // Full trained-tokenizer apply: 50 merges fitted on the corpus, every
    // document re-tokenized into subwords (exploded, position-stable). The
    // greedy rank-merge loop is not SQL-expressible -> rows-only driver
    // check; exactness is pinned by BpeSpec against an independent naive
    // reference (full recount per iteration) and a round-trip invariant.
    "text_bpe_tokenize" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val model = graft.operators.Bpe.train(docs, numMerges = 50)
      graft.operators.Bpe.tokenize(docs, model)
    }),

    // CCNet-style LM-perplexity quality filter: a Stupid-Backoff bigram LM
    // trained on the "clean reference" slice (doc_id % 4 != 0, minCount=2
    // pruning — the step that makes the model broadcastable), then EVERY
    // document scored under it (per-token log10 cross-entropy + keep cut).
    // Train = two gram-count hash aggs; score = broadcast-LM joins + one
    // per-doc agg — the corpus never shuffles before the final agg.
    "text_lm_perplexity" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val model = graft.operators.NgramLm.trainBigram(
        docs.filter(col("doc_id") % 4 =!= 0), minCount = 2)
      graft.operators.NgramLm.scoreStupidBackoff(docs, model)
    }),

    // Exact interpolated percentiles of document length (the curation
    // length-cutoff picker). Spark `percentile` and DuckDB `quantile_cont`
    // share the (n-1)·p linear-interpolation definition — library parity.
    // At 100× scale swap in percentile_approx (same plan shape, bounded
    // state); the exact form is the oracle-checkable variant.
    "text_len_percentiles" -> ((s, dir) =>
      table(s, dir, "documents").agg(
        round(expr("percentile(length(text), 0.5)"), 4).as("p50"),
        round(expr("percentile(length(text), 0.9)"), 4).as("p90"),
        round(expr("percentile(length(text), 0.99)"), 4).as("p99"))),

    // Okapi BM25 against a 3-term probe — the corpus-relevance slice
    // (expression + hash-agg only; the DuckDB oracle runs the identical
    // formula term by term).
    "text_bm25" -> ((s, dir) =>
      graft.operators.TextRank.bm25(table(s, dir, "documents"),
        Seq("table", "query", "merge"))),

    "embed_label_stats" -> ((s, dir) =>
      table(s, dir, "embeddings")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(avg(element_at(col("embedding"), 1).cast("double")), 5).as("avg_dim0"))),

    // ANN: brute-force cosine top-5 for the 8 lowest vec_ids as queries.
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      Similarity.bruteForceTopK(emb, queries, k = 5)
    }),
    // IVF at full probe (nProbe == nLists) is exhaustive → shares the
    // brute-force oracle, putting the whole train/index/search path in the
    // correctness gate; partial-probe recall is the runtime knob.
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
        nLists = 8, nProbe = 8)
    }),
    // NEAR-EXHAUSTIVE SRP banding (64 bands × 1 bit): a candidate is missed
    // only if all 64 sign bits disagree (p = (θ/π)^64 ≤ 5e-20 even for
    // orthogonal pairs), so the SRP-LSH path shares the brute-force oracle.
    // Production banding (32×5) recall is measured in Bench ("recall").
    "ann_lsh_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
        bands = 64, bitsPerBand = 1)
    }),
    // IVF-PQ (coarse lists + per-subspace codebooks + ADC scoring + exact
    // re-rank) at full probe AND full refine: every candidate reaches the
    // exact re-rank, so the entire train/encode/LUT/sum pipeline shares the
    // brute-force oracle regardless of quantizer quality; the production
    // (partial-probe, small-refine) recall is measured in Bench ("recall").
    "ann_ivfpq_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
        nLists = 8, nProbe = 8, m = 8, codes = 16, refine = Int.MaxValue)
    }),
    // Int8-quantized scoring with `refine` ≥ corpus ⇒ every candidate
    // reaches the exact re-rank ⇒ shares the brute-force oracle (the
    // ann_ivf_topk full-probe trick). The production refine's recall is
    // measured in Bench ("recall").
    "ann_quant_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 8), k = 5,
        refine = Int.MaxValue)
    }),
    // PERSISTED IVF index (build → list-partitioned parquet → search with
    // physical probe pruning): exhaustive probe shares the brute-force
    // oracle, putting the whole build/persist/prune/search lifecycle in the
    // gate. Partial-probe behavior is identical to ann_ivf_topk by
    // construction (same train + assignment code) and its pruning is proven
    // in AnnIndexSpec by corrupting unprobed lists on disk.
    "ann_ivf_persisted" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val root = gatePath("ann_ivf_persisted")
      AnnIndex.buildIvf(emb, root, nLists = 8, iters = 3)
      AnnIndex.searchIvf(s, root, emb.filter(col("vec_id") < 8), k = 5,
        nProbe = 8)
    }),
    // PERSISTED IVF-PQ index: m-bytes-per-vector code files, probed lists
    // only, exact re-rank by id-join against the primary store. Exhaustive
    // probe + refine ⇒ brute-force oracle.
    "ann_ivfpq_persisted" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val root = gatePath("ann_ivfpq_persisted")
      AnnIndex.buildIvfPq(emb, root, nLists = 8, m = 8, codes = 16, iters = 2)
      AnnIndex.searchIvfPq(s, root, emb, emb.filter(col("vec_id") < 8), k = 5,
        nProbe = 8, refine = Int.MaxValue)
    }),
    // INCREMENTAL index lifecycle (the CDC shape): build on two-thirds of
    // the corpus, APPEND the late third quantized against the STORED model
    // (no retraining pass — AnnIndex.append), search the union.
    // Exhaustive probe (+ refine) makes assignment/encode quality
    // irrelevant to the answer, so the gates isolate exactly what append
    // adds — stored-model assignment, file append into the list dirs,
    // corpusCount maintenance — against the same brute-force oracle.
    "ann_ivf_appended" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val root = gatePath("ann_ivf_appended")
      AnnIndex.buildIvf(emb.filter(col("vec_id") % 3 =!= 0), root,
        nLists = 8, iters = 3)
      AnnIndex.append(s, root, emb.filter(col("vec_id") % 3 === 0))
      AnnIndex.searchIvf(s, root, emb.filter(col("vec_id") < 8), k = 5,
        nProbe = 8)
    }),
    "ann_ivfpq_appended" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val root = gatePath("ann_ivfpq_appended")
      AnnIndex.buildIvfPq(emb.filter(col("vec_id") % 3 =!= 0), root,
        nLists = 8, m = 8, codes = 16, iters = 2)
      AnnIndex.append(s, root, emb.filter(col("vec_id") % 3 === 0))
      AnnIndex.searchIvfPq(s, root, emb, emb.filter(col("vec_id") < 8), k = 5,
        nProbe = 8, refine = Int.MaxValue)
    }),
    // The ANN SQL surface: the whole index lifecycle — build, append, search
    // — driven ENTIRELY through `CALL cat.system.ann_*` (zero Scala calls in
    // the query path), exhaustive probe ⇒ the same brute-force oracle
    // (string-cast ids: the procedure serves any id type, so it surfaces
    // ids as strings). ann_sql_topk exercises ivf build+search;
    // ann_sql_ivfpq_topk adds append and the corpus re-rank argument, so
    // all three procedures sit behind oracle gates.
    "ann_sql_topk" -> ((s, dir) => {
      graftfns(s)
      gatePath("ann_sql_idx")
      table(s, dir, "embeddings").createOrReplaceTempView("sql_ann_vectors")
      table(s, dir, "embeddings").filter(col("vec_id") < 8)
        .createOrReplaceTempView("sql_ann_queries")
      s.sql("""CALL graftfns.system.ann_build(index => 'ann_sql_idx',
              |  view => 'sql_ann_vectors', variant => 'ivf', n_lists => 8,
              |  iters => 3)""".stripMargin)
      s.sql("""CALL graftfns.system.ann_topk(index => 'ann_sql_idx',
              |  queries => 'sql_ann_queries', k => 5, n_probe => 8)""".stripMargin)
    }),
    "ann_sql_ivfpq_topk" -> ((s, dir) => {
      graftfns(s)
      gatePath("ann_sql_pq_idx")
      val emb = table(s, dir, "embeddings")
      emb.createOrReplaceTempView("sql_annpq_vectors")
      emb.filter(col("vec_id") % 3 =!= 0).createOrReplaceTempView("sql_annpq_base")
      emb.filter(col("vec_id") % 3 === 0).createOrReplaceTempView("sql_annpq_late")
      emb.filter(col("vec_id") < 8).createOrReplaceTempView("sql_annpq_queries")
      s.sql("""CALL graftfns.system.ann_build(index => 'ann_sql_pq_idx',
              |  view => 'sql_annpq_base', variant => 'ivfpq', n_lists => 8,
              |  m => 8, codes => 16, iters => 2)""".stripMargin)
      s.sql("""CALL graftfns.system.ann_append(index => 'ann_sql_pq_idx',
              |  view => 'sql_annpq_late')""".stripMargin)
      s.sql("""CALL graftfns.system.ann_topk(index => 'ann_sql_pq_idx',
              |  queries => 'sql_annpq_queries', k => 5, n_probe => 8,
              |  refine => 2147483647, corpus => 'sql_annpq_vectors')""".stripMargin)
    }),
    // STREAMING index maintenance (the full CDC closure): two-thirds of the
    // corpus lands in a REAL lake table, the index is built on that state,
    // the late third is committed, and AnnMaintenance tails the table's
    // change feed to catch the index up — then exhaustive-probe search over
    // the maintained index must equal brute force over the whole corpus.
    // Ids ride as strings through the table (conv_id) and are cast back for
    // the oracle; exactly-once/rollback shapes are pinned in
    // AnnMaintenanceSpec — this gate pins the end-to-end answer.
    "ann_maintained_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      annMaintained(s, emb, "ann_maint", "annm",
        annEvents(emb.filter(col("vec_id") % 3 =!= 0), "2025-01-01 00:00:00", "insert", 0L),
        annEvents(emb.filter(col("vec_id") % 3 === 0), "2025-01-01 00:00:00", "insert", 0L),
        mutations = "fail")
    }),
    // STREAMING maintenance under MUTATIONS (the LWW closure): the table
    // takes updates (vec_id % 13 = 2, re-upserted at a newer version — an
    // LWW-correct index must tombstone the old row AND keep the
    // re-appended one, or the id duplicates/disappears and ranks shift)
    // and deletes (vec_id % 17 = 3; conflicting ids resolve to delete by
    // seq); mutations="apply" turns the feed's net diff into generation-
    // tagged tombstones + re-appends, and exhaustive-probe search must
    // equal brute force over the SURVIVING corpus.
    "ann_maintained_mutations" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      annMaintained(s, emb, "ann_mutate", "annx",
        annEvents(emb, "2025-01-01 00:00:00", "insert", 0L),
        annEvents(emb.filter(col("vec_id") % 13 === 2),
            "2025-01-01 00:01:00", "insert", 1000000L)
          .unionByName(annEvents(emb.filter(col("vec_id") % 17 === 3),
            "2025-01-01 00:01:00", "delete", 2000000L)),
        mutations = "apply")
    }),
    // threshold 0.35: the synthetic embeddings are near-orthogonal (max
    // pairwise cosine ≈0.46), so a realistic 0.95 cutoff would be vacuous;
    // 0.35 exercises the pairing + verify path non-trivially.
    // The oracle-gated variant is the EXACT blocked all-pairs baseline —
    // near-exhaustive SRP banding is not scale-safe at a low threshold
    // (per-band collision ~1/2 → ~bands× the all-pairs volume), so unlike
    // the minhash/ann gates the full-probe trick does not apply here.
    "embed_neardup" -> ((s, dir) =>
      Similarity.embeddingNearDupPairsExact(table(s, dir, "embeddings"),
        minCos = 0.35)),
    // the sub-quadratic scale path: production SRP banding; rows-only by
    // nature (recall < 1 by design) — recall vs the exact pairs is measured
    // in Bench ("recall").
    "embed_neardup_lsh" -> ((s, dir) =>
      Similarity.embeddingNearDupPairs(table(s, dir, "embeddings"),
        minCos = 0.35, bands = 32, bitsPerBand = 5)),

    // SEMANTIC dedup deliverable: near-dup clusters over the embedding
    // space (exact pair graph at the gate threshold + the same
    // connected-components engine as the text clusters) — keep one
    // representative per meaning, not just per wording. Scale path at 100×:
    // feed [[Similarity.embeddingNearDupPairs]] (banded SRP) into the same
    // CC; the exact pair graph here keeps the gate oracle-equal.
    "embed_clusters" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Dedup.connectedComponents(
        emb.select(col("vec_id")),
        Similarity.embeddingNearDupPairsExact(emb, minCos = 0.35),
        idCol = "vec_id")
    }),

    // multimodal plumbing: binary payload + typed metadata through the
    // partition-local (stubbed) codec; hash-free columns oracle-checked.
    "mm_features_meta" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.syntheticCorpus(s, dir))
        .toDF().select("media_id", "kind", "n_bytes", "checksum")),

    // REAL-codec round trip under the oracle: Spark BUILDS a deterministic
    // PCM WAV per document (constant amplitude derived from doc_id, length
    // from n_chars) and DECODES it with the from-scratch RIFF parser; the
    // oracle computes the same features in closed form. Every numeric path
    // of the codec (header layout, sample normalization, duration math,
    // RMS/peak fold) is hash-pinned. All arithmetic is exact in IEEE
    // doubles (dyadic amplitudes, n·v² sums within 53 bits), so the hashes
    // cannot drift.
    "mm_decode_wav" -> ((s, dir) => {
      import s.implicits._
      val media = graft.operators.Par.spread(
        table(s, dir, "documents").select(col("doc_id"), col("n_chars")))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, nChars) =>
          val nSamples = ((nChars % 100) + 1).toInt * 80
          val amp = ((id * 7919) % 32768).toShort
          (id, graft.multimodal.RealCodec.encodeWavPcm16(
            8000, 1, Array.fill(nSamples)(amp)))
        }).toDF("media_id", "payload")
      Multimodal.decodeMedia(media, frameEveryMs = 250L)
        .toDF().select(col("media_id").as("doc_id"),
          col("sample_rate"), col("channels"), col("duration_ms"),
          round(col("rms"), 6).as("rms"), round(col("peak"), 6).as("peak"))
    }),

    // AS-OF join (temporal lookup — an operator core Spark lacks,
    // SPARK-22947): each click joined to the user's latest at-or-before
    // view. Merge formulation: ONE shuffle+sort, no range-pair blowup; the
    // oracle is DuckDB's NATIVE `ASOF LEFT JOIN` — library-parity for the
    // operator's semantics, tie-determinism via the (user_id, ts) pre-agg.
    "q_asof_join" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("view_value"))
      graft.operators.AsofJoin.asofJoin(clicks, views, Seq("user_id"),
        leftTs = "ts", rightTs = "ts", rightCols = Seq("view_value"))
    }),

    // RANGE (interval) join with NO equi key: every event inside any error
    // event's 2-minute window. The binned equi-join plan (each window →
    // ≤2 bins, each point → 1 bin, exactly-one-match) vs DuckDB's native
    // IEJoin over the raw BETWEEN predicate.
    "q_range_join" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val pts = ev.select(col("event_id"), col("ts"), col("event_type"))
      val wins = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("win_id"), col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 2 MINUTES")).as("win_end"))
      graft.operators.RangeJoin.rangeJoin(pts, "ts", wins,
        "win_start", "win_end", binMicros = 120L * 1000000)
        .select("win_id", "event_id", "event_type", "ts")
    }),

    // Token-window chunking for context-window packing: overlapping windows
    // of 40 tokens at stride 30, one row per (doc, chunk). Pure expressions
    // (split → posexplode(sequence) → slice/array_join) — the fan-out stays
    // in whole-stage codegen, no UDTF.
    "text_chunks" -> ((s, dir) =>
      table(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
        .select(col("doc_id"), col("toks"),
          posexplode(sequence(lit(0), size(col("toks")) - 1, lit(30))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          array_join(slice(col("toks"), col("col") + 1, lit(40)), " ").as("chunk"),
          least(size(col("toks")) - col("col"), lit(40)).cast("long").as("n_toks"))),

    // PII scrubbing: deterministic synthetic PII (email + phone + IPv4
    // derived from doc_id) appended, then redacted — both engines must
    // produce byte-identical scrubbed text (regexes live in the
    // RE2 ∩ java.util.regex common dialect).
    "text_pii_redact" -> ((s, dir) =>
      table(s, dir, "documents").select(col("doc_id"),
        Text.redactPii(concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1 555 01"), col("doc_id").cast("string"),
          lit(" from 10.1.2."), (pmod(col("doc_id"), lit(254)) + 1).cast("string")))
          .as("redacted"))),

    // Composite Gopher/C4-style quality FILTER: keep/drop + the exact rules
    // failed, as pure expressions over the text-stats primitives.
    "text_quality_filter" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        Text.qualityKeep(col("text")).as("keep"),
        concat_ws(",", Text.qualityFailReasons(col("text"))).as("fail_reasons"))),

    // END-TO-END curation pipeline — the three-stage chain every corpus
    // build runs, composed from the individual operators and hash-matched
    // as ONE gate: quality FILTER (scan-stage expressions) → exact-dedup
    // representatives (one hash agg + a left-semi join) → target-mixture
    // sample with upsampling epochs. Proves the operators compose without
    // seams: the dedup join keys on the filter's survivors, the mixture
    // histogram counts the deduped table, and every stage's semantics stay
    // bit-identical to its standalone gate.
    "text_curation_pipeline" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      // spread + materialize the filter stage ONCE: the quality expressions
      // (the pipeline's regex-heavy cost) are consumed by the dedup agg, the
      // semi-join probe side AND the mixture histogram — without truncation
      // they re-evaluate per branch, single-task (guide §2.5/§5)
      val kept = graft.operators.Par.spread(docs)
        .filter(Text.qualityKeep(col("text")))
        .localCheckpoint(true)
      val reps = graft.operators.Dedup.exact(kept)
        .select(col("keep_id").as("doc_id"))
      val dedup = kept.join(reps, Seq("doc_id"), "left_semi")
        .localCheckpoint(true) // consumed by the mixture histogram + output
      graft.operators.Sampling.mixtureSample(dedup,
        Map("en" -> 0.5, "de" -> 0.3, "zh" -> 0.2), totalRows = 400L,
        domainCol = "lang")
        .select("doc_id", "lang", "epoch")
    }),

    // The SQL curation surface: the same quality filter + score + language
    // ID run ENTIRELY through spark.sql — zero Scala Columns in the query.
    // The functions resolve through LakeCatalog's FunctionCatalog
    // (graft.table.LakeTextFunctions) and evaluate the SAME analyzer-
    // resolved expressions as the Column API, so this gate proves the `Cli
    // sql` user's curation path end-to-end against the DuckDB oracle.
    "text_sql_quality" -> ((s, dir) => {
      graftfns(s)
      table(s, dir, "documents").createOrReplaceTempView("sql_quality_docs")
      s.sql("""SELECT doc_id,
              |  CAST(graftfns.token_count(text) AS BIGINT) AS n_tok,
              |  graftfns.quality_score(text) AS quality,
              |  graftfns.lang_id(text) AS lang_pred
              |FROM sql_quality_docs
              |WHERE graftfns.quality_keep(text)""".stripMargin)
    }),

    // BM25 over SQL: `CALL cat.system.bm25(...)` — the TVF-shaped procedure
    // face of TextRank.bm25 (distributed ranking, top-k LocalScan result).
    // k exceeds the corpus hit count, so the gate compares the FULL ranked
    // slice against the same DuckDB formula as text_bm25.
    "text_sql_bm25" -> ((s, dir) => {
      graftfns(s)
      table(s, dir, "documents").createOrReplaceTempView("sql_bm25_docs")
      s.sql("""CALL graftfns.system.bm25(view => 'sql_bm25_docs',
              |  terms => 'table,query,merge', k => 100000)""".stripMargin)
    }),

    // Gap-based sessionization (30-min gap): ONE shuffle+sort per user_id
    // (lag + running sum share a single WindowExec), hash-agg rollup.
    "q_sessionize" -> ((s, dir) =>
      graft.operators.Sessionize.sessionStats(
        table(s, dir, "events"), "user_id", "ts", gapSeconds = 1800)
        .select(col("user_id"), col("session_idx"), col("session_start"),
          col("session_end"), col("duration_us"), col("n_events"))),

    // Ordered conversion funnel signup→view→click→purchase: k chained
    // same-key aggregations (no per-key sort, no collect_list buffering).
    "q_funnel" -> ((s, dir) =>
      graft.operators.Funnel.funnelReach(
        table(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"))),

    // Cohort retention matrix: distinct (key, day) agg → window cohort min
    // (one key shuffle, no join) → tiny (cohort, offset) matrix.
    "q_retention" -> ((s, dir) =>
      graft.operators.Retention.cohortRetention(table(s, dir, "events"), "user_id", "ts")),

    // Hot-key diagnostics over the changelog (the salting-knob input):
    // map-side-combined counts → TakeOrderedAndProject top-k, never a
    // total-order shuffle; grand total rides a broadcast one-row frame.
    "cdc_hot_keys" -> ((s, dir) =>
      graft.operators.SkewStats.topKeys(changelog(s, dir), "conv_id", 20)),
    "cdc_skew_summary" -> ((s, dir) =>
      graft.operators.SkewStats.skewSummary(changelog(s, dir), "conv_id")),

    // Greedy sequence packing into 256-token bins, 8 md5-sharded groups:
    // one shuffle + in-partition sort + O(1)-state streaming scan.
    "text_pack_greedy" -> ((s, dir) =>
      graft.operators.Packing.packGreedy(
        table(s, dir, "documents").select(col("doc_id"),
          Text.tokenCount(col("text")).as("toks")),
        "doc_id", "toks", budgetTokens = 256, numGroups = 8)))

  private val C = Changelog.DuckDbCte
  private val W = Changelog.DuckDbLwwCte

  /** The brute-force cosine-top-k oracle with VARCHAR-cast ids — the CALL
    * ann_* procedures surface ids as strings (they serve any id type a view
    * carries), so their gates compare against the same exhaustive answer in
    * the same value domain.
    */
  private val annSqlOracle: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      |  WHERE vec_id < 8),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
      |SELECT CAST(query_id AS VARCHAR) AS query_id, CAST(vec_id AS VARCHAR) AS vec_id,
      |  ROUND(cos, 4) AS cosine, rank FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, vec_id ASC) AS rank FROM scored) t
      |WHERE rank <= 5""".stripMargin

  // Shared oracles: star contraction computes the same deliverable as label
  // propagation; the table-lifecycle gates (incremental COW, MOR read, MOR +
  // compact) must all converge to the one-shot fold (associativity is the
  // engine's core correctness claim); a rolled-back head serves exactly the
  // time-traveled state.
  def oracleSql: Map[String, String] =
    oracleSqlBase ++ Map(
      "dedup_clusters_star" -> oracleSqlBase("dedup_clusters"),
      // near-exhaustive SRP banding and full-probe IVF share the
      // brute-force oracle
      "ann_lsh_topk" -> oracleSqlBase("ann_cosine_topk"),
      "ann_ivf_topk" -> oracleSqlBase("ann_cosine_topk"),
      "ann_quant_topk" -> oracleSqlBase("ann_cosine_topk"),
      "ann_ivfpq_topk" -> oracleSqlBase("ann_cosine_topk"),
      "ann_ivf_persisted" -> oracleSqlBase("ann_cosine_topk"),
      "ann_ivfpq_persisted" -> oracleSqlBase("ann_cosine_topk"),
      "ann_ivf_appended" -> oracleSqlBase("ann_cosine_topk"),
      "ann_ivfpq_appended" -> oracleSqlBase("ann_cosine_topk"),
      // the CALL ann_* surface returns string ids (any-id-type contract), so
      // its gates share the brute-force oracle modulo a VARCHAR cast
      "ann_sql_topk" -> annSqlOracle,
      "ann_maintained_topk" -> oracleSqlBase("ann_cosine_topk"),
      // the mutation gate's oracle is brute force over the SURVIVING corpus
      // (deletes excluded; updates re-wrote the same vector at a newer
      // version, so the formula's vectors are unchanged while the engine
      // must still tombstone + re-append them correctly to match)
      "ann_maintained_mutations" ->
        """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          |  WHERE vec_id < 8),
          |live AS (SELECT * FROM embeddings WHERE vec_id % 17 <> 3),
          |scored AS (
          |  SELECT q.query_id, e.vec_id,
          |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
          |  FROM live e CROSS JOIN q WHERE e.vec_id <> q.query_id)
          |SELECT query_id, vec_id, ROUND(cos, 4) AS cosine, rank FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          |    ORDER BY cos DESC, vec_id ASC) AS rank FROM scored) t
          |WHERE rank <= 5""".stripMargin,
      "ann_sql_ivfpq_topk" -> annSqlOracle,
      // the streaming funnel over ts-ordered arrival must equal the batch
      // funnel's relational answer
      "q_funnel_stream" -> oracleSqlBase("q_funnel"),
      // streaming first-seen dedup (copy #n arrives in micro-batch n, every
      // chunk duplicate-free) ≡ keep the (ts, seq)-first copy per content
      "text_dedup_stream" ->
        s"""$C , feed AS (
           |  SELECT conv_id, turn_idx, ts, seq,
           |    concat_ws(':', role, CAST(turn_idx % 50 AS VARCHAR)) AS dtext,
           |    ROW_NUMBER() OVER (
           |      PARTITION BY concat_ws(':', role, CAST(turn_idx % 50 AS VARCHAR))
           |      ORDER BY ts, seq) AS rn
           |  FROM changelog)
           |SELECT conv_id, turn_idx, ts, seq, dtext FROM feed WHERE rn = 1""".stripMargin,
      // stateful LWW feed: the expected EMISSION SET — per (key, chunk) the
      // (ts,seq)-max candidate, emitted iff it strictly beats the running
      // winner of earlier chunks and is not a delete (ver packs (ts, seq)
      // into one HUGEINT so running-max works; seq < 10^12 by construction)
      "cdc_stateful_lww" ->
        s"""$C , ev AS (
           |  SELECT *, seq % 3 AS chunk,
           |    (CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + seq) AS ver
           |  FROM changelog),
           |cand AS (
           |  SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
           |    PARTITION BY conv_id, turn_idx, chunk ORDER BY ts DESC, seq DESC) AS rn
           |  FROM ev) t WHERE rn = 1),
           |run AS (
           |  SELECT *, MAX(ver) OVER (PARTITION BY conv_id, turn_idx ORDER BY chunk
           |    ROWS UNBOUNDED PRECEDING) AS wver
           |  FROM cand),
           |lagged AS (
           |  SELECT *, LAG(wver) OVER (PARTITION BY conv_id, turn_idx ORDER BY chunk) AS pver
           |  FROM run)
           |SELECT conv_id, turn_idx, role, text, tool, ts, seq FROM lagged
           |WHERE ver = wver AND (pver IS NULL OR wver > pver) AND op <> 'delete'""".stripMargin,
      // tumbling windows: epoch-aligned 1-hour buckets (Spark's window()
      // alignment), every real window finalized by the sentinel's watermark
      "cdc_windowed_counts" ->
        s"""$C
           |SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
           |  make_timestamp((epoch_us(ts) // 3600000000) * 3600000000 + 3600000000) AS window_end,
           |  op, COUNT(*) AS n_events
           |FROM changelog GROUP BY 1, 2, 3""".stripMargin,
      "cdc_table_incremental" -> oracleSqlBase("cdc_replay_final"),
      "cdc_table_mor_read" -> oracleSqlBase("cdc_replay_final"),
      "cdc_spill_fold" -> oracleSqlBase("cdc_replay_final"),
      "cdc_table_mor_compact" -> oracleSqlBase("cdc_replay_final"),
      "cdc_replicated" -> oracleSqlBase("cdc_replay_final"),
      "cdc_lake_source" -> oracleSqlBase("cdc_replay_final"),
      "cdc_rollback" -> oracleSqlBase("cdc_time_travel"),
      "cdc_incr_agg_table" -> oracleSqlBase("cdc_incr_agg"),
      "cdc_streaming_view" -> oracleSqlBase("cdc_incr_agg"))

  private val oracleSqlBase: Map[String, String] = Map(
    "cdc_changelog" -> s"$C SELECT * FROM changelog",

    "cdc_lww_dedup" ->
      s"$W SELECT conv_id, turn_idx, role, text, tool, ts, op, seq FROM lww",

    "cdc_replay_final" ->
      s"""$W SELECT conv_id, turn_idx, role, text, tool, ts, seq FROM lww
         |WHERE op <> 'delete'""".stripMargin,

    "cdc_text_search" ->
      s"""$W SELECT conv_id, turn_idx, role, text, tool, ts, seq FROM lww
         |WHERE op <> 'delete'
         |  AND list_contains(regexp_split_to_array(text, '\\s+'), 'purchase')""".stripMargin,

    "cdc_max_ts" ->
      s"""$C SELECT conv_id, turn_idx, MAX(ts) AS max_ts, COUNT(*) AS n_versions
         |FROM changelog GROUP BY conv_id, turn_idx""".stripMargin,

    "cdc_op_stats" ->
      s"""$C SELECT op, COUNT(*) AS n_events, COUNT(DISTINCT conv_id) AS n_convs,
         |  COUNT(DISTINCT conv_id || '#' || CAST(turn_idx AS VARCHAR)) AS n_keys
         |FROM changelog GROUP BY op""".stripMargin,

    "cdc_delete_keys" ->
      s"""$W SELECT conv_id, turn_idx, ts, seq FROM lww
         |WHERE op = 'delete'""".stripMargin,

    "cdc_conv_assembly" ->
      s"""$W , winners AS (
         |  SELECT conv_id, turn_idx, role, text, ts FROM lww WHERE op <> 'delete')
         |SELECT conv_id, COUNT(*) AS n_turns, MAX(ts) AS last_ts,
         |  string_agg(concat_ws(': ', role, text), chr(10) ORDER BY turn_idx)
         |    AS transcript
         |FROM winners GROUP BY conv_id""".stripMargin,

    // conversation near-dup mirror: LWW winners -> ordered transcript
    // assembly -> the document-level jaccard pattern over conv_id.
    "cdc_conv_neardup" ->
      s"""$W , winners AS (
         |  SELECT conv_id, turn_idx, role, text FROM lww WHERE op <> 'delete'),
         |conv AS (
         |  SELECT conv_id,
         |    string_agg(concat_ws(': ', role, text), chr(10) ORDER BY turn_idx)
         |      AS transcript
         |  FROM winners GROUP BY conv_id),
         |words AS (
         |  SELECT conv_id, regexp_split_to_array(trim(lower(transcript)), '\\s+') AS w
         |  FROM conv),
         |idx AS (
         |  SELECT conv_id, w, unnest(generate_series(1, len(w) - 2)) AS i
         |  FROM words WHERE len(w) >= 3),
         |sh AS (SELECT DISTINCT conv_id, array_to_string(w[i:i+2], ' ') AS shingle
         |       FROM idx),
         |sizes AS (SELECT conv_id, COUNT(*) AS sz FROM sh GROUP BY conv_id),
         |inter AS (
         |  SELECT a.conv_id AS id_a, b.conv_id AS id_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.conv_id < b.conv_id
         |  GROUP BY a.conv_id, b.conv_id)
         |SELECT id_a, id_b,
         |  ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.conv_id = id_a
         |JOIN sizes sb ON sb.conv_id = id_b
         |WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.1""".stripMargin,

    "cdc_conv_quality" ->
      s"""$W , winners AS (
         |  SELECT conv_id, turn_idx, role, text, tool FROM lww WHERE op <> 'delete'),
         |flagged AS (
         |  SELECT conv_id, turn_idx, role, text, tool,
         |    CASE WHEN role = lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
         |      THEN 1 ELSE 0 END AS same_role
         |  FROM winners),
         |agg AS (
         |  SELECT conv_id,
         |    COUNT(*) AS n_turns,
         |    CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
         |    bool_or(tool IS NOT NULL) AS has_tool,
         |    CAST(SUM(same_role) AS BIGINT) AS role_violations,
         |    CAST(MAX(turn_idx) - MIN(turn_idx) + 1 - COUNT(*) AS BIGINT) AS idx_gaps,
         |    ROUND(AVG(COALESCE(LENGTH(text), 0)), 4) AS mean_chars
         |  FROM flagged GROUP BY conv_id)
         |SELECT conv_id, n_turns, n_user, has_tool, role_violations, idx_gaps,
         |  mean_chars,
         |  (n_turns >= 2 AND role_violations = 0 AND idx_gaps = 0) AS keep
         |FROM agg""".stripMargin,

    "cdc_context_pairs" ->
      s"""$W , winners AS (
         |  SELECT conv_id, turn_idx, role, text FROM lww WHERE op <> 'delete')
         |SELECT conv_id, turn_idx, context, target FROM (
         |  SELECT conv_id, turn_idx,
         |    string_agg(concat_ws(': ', role, text), chr(10))
         |      OVER (PARTITION BY conv_id ORDER BY turn_idx
         |            ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS context,
         |    text AS target
         |  FROM winners) p
         |WHERE context IS NOT NULL""".stripMargin,

    "cdc_turn_order" ->
      s"""$W, final AS (
         |  SELECT conv_id, turn_idx, role, text, tool, ts, seq FROM lww WHERE op <> 'delete')
         |SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS turn_rank,
         |  LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
         |FROM final""".stripMargin,

    "cdc_salted_dedup" ->
      s"$W SELECT conv_id, turn_idx, role, text, tool, ts, op, seq FROM lww",

    "cdc_evolved_replay" ->
      s"""$C, evolved AS (
         |  SELECT conv_id, turn_idx, role, text, CAST(NULL AS VARCHAR) AS tool,
         |    ts, op, seq FROM changelog WHERE seq % 2 = 0
         |  UNION ALL
         |  SELECT conv_id, turn_idx, role, text, tool, ts, op, seq
         |  FROM changelog WHERE seq % 2 = 1)
         |SELECT conv_id, turn_idx, role, text, tool, ts, seq FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
         |    ORDER BY ts DESC, seq DESC) AS rn FROM evolved) t
         |WHERE rn = 1 AND op <> 'delete'""".stripMargin,

    "cdc_widened_replay" ->
      s"""$W SELECT conv_id, turn_idx, role, text, tool, ts, seq,
         |  CAST(CASE WHEN seq % 2 = 0 THEN turn_idx
         |            ELSE seq + 5000000000 END AS BIGINT) AS score
         |FROM lww WHERE op <> 'delete'""".stripMargin,

    // the lexicographically-first conversation's live turns from the fold
    "cdc_conv_lookup" ->
      s"""$W, final AS (
         |  SELECT conv_id, turn_idx, role, text, tool, ts, seq FROM lww WHERE op <> 'delete')
         |SELECT * FROM final
         |WHERE conv_id IN (SELECT DISTINCT conv_id FROM final ORDER BY conv_id LIMIT 5)
         |  AND turn_idx < 4096""".stripMargin,

    // per-conversation distributive stats over the FINAL fold — what the
    // incrementally-maintained view must equal after its last refresh
    "cdc_incr_agg" ->
      s"""$W, final AS (
         |  SELECT conv_id, turn_idx, role, text FROM lww WHERE op <> 'delete')
         |SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS turns,
         |  CAST(SUM(COALESCE(LENGTH(text), 0)) AS BIGINT) AS total_chars,
         |  CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS user_turns
         |FROM final GROUP BY conv_id""".stripMargin,

    // the half-changelog (seq % 2 = 0) fold — what the table held at v1
    "cdc_time_travel" ->
      s"""$C SELECT conv_id, turn_idx, role, text, tool, ts, seq FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
         |    ORDER BY ts DESC, seq DESC) AS rn FROM changelog WHERE seq % 2 = 0) t
         |WHERE rn = 1 AND op <> 'delete'""".stripMargin,

    // row-level feed between the v1 (seq % 2 = 0) and the full (lww) folds:
    // insert = key not live at v1, live at v2; delete = live → not live
    // (pre-image row); update = live → live with a different (ts, seq)
    // winner. Tombstone→tombstone and unchanged winners emit nothing.
    "cdc_change_feed" ->
      s"""$W, v1 AS (
         |  SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
         |    ORDER BY ts DESC, seq DESC) AS rn FROM changelog WHERE seq % 2 = 0) t
         |  WHERE rn = 1),
         |j AS (
         |  SELECT COALESCE(a.conv_id, b.conv_id) AS conv_id,
         |         COALESCE(a.turn_idx, b.turn_idx) AS turn_idx,
         |         a.role AS a_role, a.text AS a_text, a.tool AS a_tool,
         |         a.ts AS a_ts, a.seq AS a_seq, a.op AS a_op,
         |         b.role AS b_role, b.text AS b_text, b.tool AS b_tool,
         |         b.ts AS b_ts, b.seq AS b_seq, b.op AS b_op
         |  FROM v1 a FULL JOIN lww b
         |    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx),
         |c AS (
         |  SELECT *, CASE
         |    WHEN (a_op IS NULL OR a_op = 'delete')
         |         AND b_op IS NOT NULL AND b_op <> 'delete' THEN 'insert'
         |    WHEN a_op IS NOT NULL AND a_op <> 'delete'
         |         AND (b_op IS NULL OR b_op = 'delete') THEN 'delete'
         |    WHEN a_op <> 'delete' AND b_op <> 'delete'
         |         AND (a_ts <> b_ts OR a_seq <> b_seq) THEN 'update'
         |    END AS change_type
         |  FROM j)
         |SELECT change_type, conv_id, turn_idx,
         |  CASE WHEN change_type = 'delete' THEN a_role ELSE b_role END AS role,
         |  CASE WHEN change_type = 'delete' THEN a_text ELSE b_text END AS text,
         |  CASE WHEN change_type = 'delete' THEN a_tool ELSE b_tool END AS tool,
         |  CASE WHEN change_type = 'delete' THEN a_ts ELSE b_ts END AS ts,
         |  CASE WHEN change_type = 'delete' THEN a_seq ELSE b_seq END AS seq
         |FROM c WHERE change_type IS NOT NULL""".stripMargin,

    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  ROUND(SUM(l_extendedprice) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_rev,
        |  LAG(l_shipdate) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC) AS prev_ship
        |FROM lineitem WHERE l_suppkey < 50""".stripMargin,

    "text_token_bpeish" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z]{1,6}|\d{1,3}|[^\sA-Za-z\d]')) AS BIGINT) AS n_pieces
        |FROM documents""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_dim" ->
      """SELECT n_name, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) t
        |WHERE rk <= 3""".stripMargin,

    "q_set_ops" ->
      """(SELECT user_id FROM events WHERE event_type = 'click'
        | UNION SELECT user_id FROM events WHERE event_type = 'signup')
        |EXCEPT SELECT user_id FROM events WHERE event_type = 'error'""".stripMargin,

    "q_union_evolution" ->
      s"""$C SELECT conv_id, turn_idx, role, text, CAST(NULL AS VARCHAR) AS tool,
         |  ts, op, seq FROM changelog WHERE seq % 2 = 0
         |UNION ALL
         |SELECT conv_id, turn_idx, role, text, tool, ts, op, seq
         |FROM changelog WHERE seq % 2 = 1""".stripMargin,

    "q_scalar_fns" ->
      """SELECT o_orderkey,
        |  'urn:order:' || sha256(CAST(o_orderkey AS VARCHAR) || '_' || o_orderstatus) AS iri,
        |  strftime(o_orderdate, '%Y') || '-01-01' AS year_norm,
        |  UPPER(o_orderpriority) AS pri_upper,
        |  SUBSTRING(o_orderpriority, 1, 1) AS pri_first,
        |  LENGTH(o_orderpriority) AS pri_len,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        |  md5(o_orderpriority) AS pri_md5,
        |  contains(o_orderpriority, 'URGENT') AS is_urgent
        |FROM orders""".stripMargin,

    // the || '...' tails mirror the probe constant's escape under the
    // reference backend (commons-text): "é<'" → html "&eacute;&lt;'",
    // ecmascript "é<\'" (@U@ dodges Scala's \u lexer processing)
    "q_grel_escape" ->
      """SELECT event_id,
        |  replace(replace(replace(replace(props, '&', '&amp;'), '<', '&lt;'),
        |    '>', '&gt;'), '"', '&quot;') || '&eacute;&lt;''' AS esc_html,
        |  CASE WHEN regexp_matches(props, '[",\\n\\r]')
        |       THEN '"' || replace(props, '"', '""') || '"' ELSE props END AS esc_csv,
        |  replace(props, '"', '\"') || '@U@00E9<\''' AS esc_js,
        |  props || 'é<''' AS xml_rt,
        |  props || 'é<''' AS js_rt,
        |  CASE WHEN contains(props, ':')
        |       THEN regexp_extract(props, '^(.*):', 1) ELSE props END AS rp_before,
        |  CASE WHEN contains(props, ':') THEN ':' END AS rp_sep,
        |  CASE WHEN contains(props, ':')
        |       THEN regexp_extract(props, '^.*:(.*)$', 1) END AS rp_after,
        |  trim(props) AS stripped
        |FROM events""".stripMargin.replace("@U@", "\\u"),

    "cdc_props_extract" ->
      """SELECT event_id,
        |  COALESCE(TRY_CAST(props->>'$.k' AS INT), 0) AS k_val
        |FROM events""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "text_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) <
        |  CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0 WHEN 'fr' THEN 0.25 END
        |    * 4294967296""".stripMargin,

    // mixture mirror: same histogram-derived rate arithmetic (left-assoc
    // double ops), same SALTED md5 coin ("mix:" — independent of the
    // stratified sampler's unsalted coin so the two compose without
    // conditional bias), generate_series for the epochs.
    "text_mixture_sample" ->
      """WITH cnt AS (SELECT lang, COUNT(*) AS dn FROM documents GROUP BY lang),
        |rates AS (
        |  SELECT lang, 600.0 * CASE lang WHEN 'en' THEN 0.4 WHEN 'zh' THEN 0.4
        |                                 WHEN 'de' THEN 0.2 END / dn AS rate
        |  FROM cnt WHERE lang IN ('en', 'zh', 'de')),
        |c AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(FLOOR(r.rate) AS BIGINT) +
        |    CASE WHEN CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
        |               AS BIGINT) < (r.rate - FLOOR(r.rate)) * 4294967296
        |         THEN 1 ELSE 0 END AS copies
        |  FROM documents d JOIN rates r USING (lang))
        |SELECT doc_id, lang, CAST(unnest(generate_series(0, copies - 1)) AS BIGINT) AS epoch
        |FROM c WHERE copies > 0""".stripMargin,

    "text_balanced_sample" ->
      """SELECT doc_id, lang, rk FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 40""".stripMargin,

    "text_vocab_topk" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents)
        |SELECT token, COUNT(*) AS n FROM toks WHERE len(token) > 0
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 100""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        |  FROM words WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle FROM idx),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b,
        |  ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.8""".stripMargin,

    // components of the CAPPED (df≤50) jaccard≥0.8 pair graph via recursive
    // transitive closure; cluster id = min reachable doc id (symmetric
    // edges), and every document appears (singletons cluster to themselves)
    "dedup_clusters" ->
      """WITH RECURSIVE words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        |  FROM words WHERE len(w) >= 3),
        |sh0 AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle FROM idx),
        |dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
        |sh AS (SELECT s.doc_id, s.shingle FROM sh0 s
        |       JOIN dfreq USING (shingle) WHERE df <= 50),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.8),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
        |SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src""".stripMargin,

    // capped variant: shingles with df > 50 leave the representation — sizes
    // AND intersections both use the capped shingle sets (true set jaccard).
    "dedup_ngram_jaccard_capped" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        |  FROM words WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle FROM idx),
        |dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
        |cap AS (SELECT s.doc_id, s.shingle FROM sh s
        |        JOIN dfreq USING (shingle) WHERE df <= 50),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM cap GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM cap a JOIN cap b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b,
        |  ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.8""".stripMargin,

    // near-exhaustive LSH gate: brute-force exact-jaccard ground truth at 0.7
    "dedup_minhash_lsh" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        |  FROM words WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle FROM idx),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b,
        |  ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.7""".stripMargin,

    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN LENGTH(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) /
        |      GREATEST(LENGTH(text), 1) AS punct_ratio,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_tok, punct_ratio,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','an','of','to','in',
        |      'and','is','it','that','for','on','with','as','at','by','or','be'))) AS DOUBLE) /
        |      GREATEST(len(toks), 1) AS stop_ratio
        |  FROM t)
        |SELECT doc_id, ROUND(
        |  LEAST(CAST(n_tok AS DOUBLE) / 64.0, 1.0) * 0.5 +
        |  (CASE WHEN punct_ratio < 0.25 THEN 1.0 ELSE 0.5 END) * 0.25 +
        |  (CASE WHEN stop_ratio > 0.05 THEN 1.0 ELSE 0.6 END) * 0.25, 6) AS quality
        |FROM s""".stripMargin,

    "text_stats" ->
      """SELECT doc_id,
        |  LENGTH(text) AS n_chars_calc,
        |  CASE WHEN LENGTH(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  ROUND(CAST(LENGTH(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
        |    GREATEST(CASE WHEN LENGTH(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1), 4) AS mean_token_len,
        |  ROUND(CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) /
        |    GREATEST(LENGTH(text), 1), 6) AS punct_ratio,
        |  ROUND(CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
        |    GREATEST(LENGTH(text), 1), 6) AS alpha_ratio
        |FROM documents""".stripMargin,

    // BPE first-iteration pair counts: same tokenization, chars via substr,
    // last char pairs with the </w> marker, weights are word frequencies.
    "text_bpe_pairs" ->
      """WITH toks AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents WHERE len(trim(text)) > 0),
        |wf AS (SELECT word, COUNT(*) AS freq
        |       FROM (SELECT unnest(w) AS word FROM toks) GROUP BY word),
        |p AS (
        |  SELECT substr(word, i, 1) AS a,
        |         CASE WHEN i = len(word) THEN '</w>'
        |              ELSE substr(word, i + 1, 1) END AS b,
        |         freq
        |  FROM (SELECT word, freq, unnest(generate_series(1, len(word))) AS i
        |        FROM wf))
        |SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM p GROUP BY a, b""".stripMargin,

    // Stupid-Backoff mirror: same tokenization, same minCount=2 pruning,
    // same OOV floor (alpha/N), same first-token-pays-no-backoff rule.
    "text_lm_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents WHERE len(trim(text)) > 0),
        |train AS (SELECT w FROM toks WHERE doc_id % 4 <> 0),
        |uni_all AS (SELECT unnest(w) AS g FROM train),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM uni_all),
        |uni AS (SELECT g, COUNT(*) AS c FROM uni_all GROUP BY g
        |        HAVING COUNT(*) >= 2),
        |bi AS (
        |  SELECT w[i-1] AS p, w[i] AS g, COUNT(*) AS c
        |  FROM (SELECT w, unnest(generate_series(2, len(w))) AS i FROM train)
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |tk AS (
        |  SELECT doc_id, CASE WHEN i > 1 THEN w[i-1] END AS p, w[i] AS g
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
        |        FROM toks)),
        |sc AS (
        |  SELECT tk.doc_id,
        |    CASE WHEN bi.c IS NOT NULL THEN CAST(bi.c AS DOUBLE) / up.c
        |         ELSE (CASE WHEN tk.p IS NOT NULL THEN 0.4 ELSE 1.0 END) *
        |              (CASE WHEN uc.c IS NOT NULL
        |                    THEN CAST(uc.c AS DOUBLE) / tot.n
        |                    ELSE 0.4 / tot.n END)
        |    END AS s
        |  FROM tk
        |  LEFT JOIN bi ON tk.p = bi.p AND tk.g = bi.g
        |  LEFT JOIN uni up ON tk.p = up.g
        |  LEFT JOIN uni uc ON tk.g = uc.g
        |  CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  ROUND(SUM(LOG10(s)), 4) AS log10_prob,
        |  ROUND(-SUM(LOG10(s)) / COUNT(*), 4) AS ce,
        |  (ROUND(-SUM(LOG10(s)) / COUNT(*), 4) <= 3.0) AS keep
        |FROM sc GROUP BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, w AS g1,
        |    list_transform(range(1, greatest(len(w), 1)),
        |      i -> w[i] || ' ' || w[i+1]) AS g2,
        |    list_transform(range(1, greatest(len(w)-1, 1)),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
        |  FROM t),
        |f AS (
        |  SELECT doc_id,
        |    CASE WHEN len(g1)=0 THEN 0.0
        |      ELSE CAST(len(g1)-len(list_distinct(g1)) AS DOUBLE)/len(g1) END AS f1,
        |    CASE WHEN len(g2)=0 THEN 0.0
        |      ELSE CAST(len(g2)-len(list_distinct(g2)) AS DOUBLE)/len(g2) END AS f2,
        |    CASE WHEN len(g3)=0 THEN 0.0
        |      ELSE CAST(len(g3)-len(list_distinct(g3)) AS DOUBLE)/len(g3) END AS f3
        |  FROM g)
        |SELECT doc_id,
        |  ROUND(f1, 6) AS dup_word_frac,
        |  ROUND(f2, 6) AS dup_2gram_frac,
        |  ROUND(f3, 6) AS dup_3gram_frac,
        |  (f2 <= 0.20 AND f3 <= 0.18) AS keep
        |FROM f""".stripMargin,

    "text_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(w)-2, 1)),
        |    i -> array_to_string(w[i:i+3], ' '))) AS grams
        |  FROM t),
        |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 25 = 0),
        |dg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 25 <> 0)
        |SELECT dg.doc_id, COUNT(*) AS n_overlap
        |FROM dg JOIN bg USING (gram)
        |GROUP BY dg.doc_id""".stripMargin,

    "text_exact_substr" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |b AS (SELECT doc_id, w, len(w) AS n_tokens FROM t),
        |w0 AS (SELECT doc_id, w, unnest(generate_series(0, n_tokens - 12)) AS pos
        |       FROM b WHERE n_tokens >= 12),
        |wins AS (SELECT doc_id, pos,
        |  array_to_string(w[pos+1:pos+12], ' ') AS gram FROM w0),
        |dup AS (SELECT gram FROM wins GROUP BY gram HAVING COUNT(*) > 1),
        |hits AS (SELECT doc_id, pos FROM wins JOIN dup USING (gram)),
        |isl AS (SELECT doc_id, pos,
        |  CASE WHEN pos >= COALESCE(MAX(pos + 12) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |    THEN 1 ELSE 0 END AS newi
        |  FROM hits),
        |isl2 AS (SELECT doc_id, pos,
        |  SUM(newi) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
        |spans AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 12 AS e,
        |  COUNT(*) AS nw FROM isl2 GROUP BY doc_id, island),
        |agg AS (SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS ndt,
        |  CAST(SUM(nw) AS BIGINT) AS ndw FROM spans GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  COALESCE(a.ndw, 0) AS n_dup_windows,
        |  COALESCE(a.ndt, 0) AS n_dup_tokens,
        |  ROUND(CAST(COALESCE(a.ndt, 0) AS DOUBLE) / b.n_tokens, 6) AS dup_frac,
        |  (CAST(COALESCE(a.ndt, 0) AS DOUBLE) / b.n_tokens <= 0.2) AS keep
        |FROM b LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "text_langid" ->
      """WITH t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS s FROM documents),
        |sc AS (SELECT doc_id,
        |  (CASE WHEN contains(s, ' the ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' and ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' of ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' is ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' with ') THEN 1 ELSE 0 END) AS en,
        |  (CASE WHEN contains(s, ' el ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' la ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' los ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' que ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' con ') THEN 1 ELSE 0 END) AS es,
        |  (CASE WHEN contains(s, ' le ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' les ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' des ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' est ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' avec ') THEN 1 ELSE 0 END) AS fr,
        |  (CASE WHEN contains(s, ' der ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' die ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' und ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' ist ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(s, ' mit ') THEN 1 ELSE 0 END) AS de,
        |  CASE WHEN regexp_matches(s, '[\x{4e00}-\x{9fff}]') THEN 10 ELSE 0 END AS zh
        |FROM t)
        |SELECT doc_id, CASE
        |  WHEN zh >= en AND zh >= es AND zh >= fr AND zh >= de THEN 'zh'
        |  WHEN fr >= en AND fr >= es AND fr >= de AND fr >= zh THEN 'fr'
        |  WHEN es >= en AND es >= fr AND es >= de AND es >= zh THEN 'es'
        |  WHEN en >= es AND en >= fr AND en >= de AND en >= zh THEN 'en'
        |  ELSE 'de' END AS lang_pred
        |FROM sc""".stripMargin,

    "text_fingerprint" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        |  FROM words WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS shingle FROM idx),
        |f AS (SELECT doc_id, MIN(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id)
        |SELECT d.doc_id, f.fingerprint FROM documents d
        |LEFT JOIN f ON d.doc_id = f.doc_id""".stripMargin,

    "text_len_percentiles" ->
      """SELECT ROUND(quantile_cont(length(text), 0.5), 4) AS p50,
        |  ROUND(quantile_cont(length(text), 0.9), 4) AS p90,
        |  ROUND(quantile_cont(length(text), 0.99), 4) AS p99
        |FROM documents""".stripMargin,

    // identical Okapi BM25 formula, same multiply order, round 6 both sides
    "text_bm25" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |    t -> len(t) > 0) AS w
        |  FROM documents),
        |dl AS (SELECT doc_id, len(w) AS dl FROM d),
        |stats AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(w) AS term FROM d) t
        |  WHERE term IN ('table', 'query', 'merge') GROUP BY doc_id, term),
        |idf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
        |SELECT tf.doc_id,
        |  ROUND(SUM(ln((stats.n_docs - idf.df + 0.5) / (idf.df + 0.5) + 1.0)
        |    * tf.tf * 2.2 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))), 6) AS bm25
        |FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |GROUP BY tf.doc_id""".stripMargin,

    "embed_label_stats" ->
      """SELECT label, COUNT(*) AS n,
        |  ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 5) AS avg_dim0
        |FROM embeddings GROUP BY label""".stripMargin,

    "ann_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
        |SELECT query_id, vec_id, ROUND(cos, 4) AS cosine, rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, vec_id ASC) AS rank FROM scored) t
        |WHERE rank <= 5""".stripMargin,

    // near-exhaustive SRP banding shares an all-pairs cosine oracle; the
    // filter applies to the ROUNDED cosine on both sides (Spark does
    // round(cos,4) >= minCos), so boundary values agree bit-for-bit
    "embed_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.35""".stripMargin,

    // same pair predicate as embed_neardup, then the recursive transitive
    // closure (min reachable id = cluster id) like dedup_clusters
    "embed_clusters" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.35),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a)
        |SELECT src AS vec_id, MIN(dst) AS cluster_id FROM reach GROUP BY src""".stripMargin,

    "mm_features_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS kind,
        |  strlen(text) AS n_bytes,
        |  md5(text) AS checksum
        |FROM documents""".stripMargin,

    // closed-form twin of the WAV build+decode round trip: duration =
    // nSamples/8 ms (rate 8000), rms = peak = amp/32768 for a constant-
    // amplitude signal — exact dyadic doubles on both engines
    "mm_decode_wav" ->
      """SELECT doc_id,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  ((n_chars % 100) + 1) * 10 AS duration_ms,
        |  ROUND(((doc_id * 7919) % 32768) / 32768.0, 6) AS rms,
        |  ROUND(((doc_id * 7919) % 32768) / 32768.0, 6) AS peak
        |FROM documents""".stripMargin,

    // DuckDB's NATIVE ASOF JOIN is the oracle for the merge-formulation
    // asof operator; right side pre-deduped per (user_id, ts) on both sides
    // so the at-ts winner is deterministic.
    "q_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, ts, MAX(value) AS view_value FROM events
        |  WHERE event_type = 'view' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id, c.ts, c.value, v.view_value AS asof_view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts""".stripMargin,

    // raw BETWEEN-style range predicate (DuckDB plans it as IEJoin) vs the
    // engine's binned equi-join plan
    "q_range_join" ->
      """WITH wins AS (
        |  SELECT event_id AS win_id, ts AS win_start,
        |    ts + INTERVAL 2 MINUTE AS win_end
        |  FROM events WHERE event_type = 'error')
        |SELECT w.win_id, e.event_id, e.event_type, e.ts
        |FROM events e JOIN wins w
        |  ON e.ts >= w.win_start AND e.ts < w.win_end""".stripMargin,

    "text_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE LENGTH(trim(text)) > 0),
        |g AS (
        |  SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, 30)) AS s
        |  FROM t)
        |SELECT doc_id, CAST(s // 30 AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[s + 1 : s + 40], ' ') AS chunk,
        |  CAST(LEAST(len(toks) - s, 40) AS BIGINT) AS n_toks
        |FROM g""".stripMargin,

    "text_pii_redact" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or +1 555 01' || CAST(doc_id AS VARCHAR) ||
        |    ' from 10.1.2.' || CAST((doc_id % 254) + 1 AS VARCHAR) AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(txt,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM t""".stripMargin,

    "text_quality_filter" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN LENGTH(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
        |    CAST(LENGTH(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
        |      GREATEST(CASE WHEN LENGTH(trim(text)) = 0 THEN 0
        |        ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1) AS mean_len,
        |    CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
        |      GREATEST(LENGTH(text), 1) AS alpha_ratio,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) /
        |      GREATEST(LENGTH(text), 1) AS punct_ratio,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x IN ('the','a','an','of','to','in','and','is','it','that',
        |                 'for','on','with','as','at','by','or','be'))) AS DOUBLE) /
        |      GREATEST(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1) AS stop_ratio
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, list_filter([
        |    CASE WHEN n_tok < 5 THEN 'too_few_tokens' END,
        |    CASE WHEN n_tok > 5000 THEN 'too_many_tokens' END,
        |    CASE WHEN mean_len < 2.0 OR mean_len > 12.0 THEN 'bad_mean_token_len' END,
        |    CASE WHEN alpha_ratio < 0.5 THEN 'low_alpha' END,
        |    CASE WHEN punct_ratio >= 0.25 THEN 'high_punct' END,
        |    CASE WHEN stop_ratio <= 0.02 THEN 'no_stopwords' END],
        |    x -> x IS NOT NULL) AS reasons
        |  FROM t)
        |SELECT doc_id, len(reasons) = 0 AS keep,
        |  COALESCE(array_to_string(reasons, ','), '') AS fail_reasons
        |FROM r""".stripMargin,

    // end-to-end pipeline mirror: the quality-keep CTE (same predicate as
    // text_quality_filter), min-id-per-md5(text) representatives (same as
    // dedup_exact), then the salted-coin mixture arithmetic (same as
    // text_mixture_sample) over the deduped survivors' histogram.
    "text_curation_pipeline" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN LENGTH(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
        |    CAST(LENGTH(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
        |      GREATEST(CASE WHEN LENGTH(trim(text)) = 0 THEN 0
        |        ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1) AS mean_len,
        |    CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
        |      GREATEST(LENGTH(text), 1) AS alpha_ratio,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) /
        |      GREATEST(LENGTH(text), 1) AS punct_ratio,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x IN ('the','a','an','of','to','in','and','is','it','that',
        |                 'for','on','with','as','at','by','or','be'))) AS DOUBLE) /
        |      GREATEST(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1) AS stop_ratio
        |  FROM documents),
        |keepset AS (
        |  SELECT doc_id FROM t WHERE len(list_filter([
        |    CASE WHEN n_tok < 5 THEN 'f' END,
        |    CASE WHEN n_tok > 5000 THEN 'f' END,
        |    CASE WHEN mean_len < 2.0 OR mean_len > 12.0 THEN 'f' END,
        |    CASE WHEN alpha_ratio < 0.5 THEN 'f' END,
        |    CASE WHEN punct_ratio >= 0.25 THEN 'f' END,
        |    CASE WHEN stop_ratio <= 0.02 THEN 'f' END],
        |    x -> x IS NOT NULL)) = 0),
        |kept AS (
        |  SELECT d.doc_id, d.lang, d.text FROM documents d
        |  JOIN keepset USING (doc_id)),
        |reps AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
        |dedup AS (SELECT k.doc_id, k.lang FROM kept k JOIN reps USING (doc_id)),
        |cnt AS (SELECT lang, COUNT(*) AS dn FROM dedup GROUP BY lang),
        |rates AS (
        |  SELECT lang, 400.0 * CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.3
        |                                 WHEN 'zh' THEN 0.2 END / dn AS rate
        |  FROM cnt WHERE lang IN ('en', 'de', 'zh')),
        |c AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(FLOOR(r.rate) AS BIGINT) +
        |    CASE WHEN CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
        |               AS BIGINT) < (r.rate - FLOOR(r.rate)) * 4294967296
        |         THEN 1 ELSE 0 END AS copies
        |  FROM dedup d JOIN rates r USING (lang))
        |SELECT doc_id, lang, CAST(unnest(generate_series(0, copies - 1)) AS BIGINT) AS epoch
        |FROM c WHERE copies > 0""".stripMargin,

    // the SQL-catalog curation gate: same keep predicate (CASE-list filter,
    // null conditions don't fail — Spark's filter-on-null semantics), same
    // quality formula (round 6), same langid argmax tie-break as the
    // individual oracles above
    "text_sql_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CASE WHEN LENGTH(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
        |    CAST(LENGTH(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
        |      GREATEST(CASE WHEN LENGTH(trim(text)) = 0 THEN 0
        |        ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1) AS mean_len,
        |    CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
        |      GREATEST(LENGTH(text), 1) AS alpha_ratio,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) /
        |      GREATEST(LENGTH(text), 1) AS punct_ratio,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x IN ('the','a','an','of','to','in','and','is','it','that',
        |                 'for','on','with','as','at','by','or','be'))) AS DOUBLE) /
        |      GREATEST(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1) AS stop_ratio
        |  FROM documents),
        |k AS (
        |  SELECT * FROM t WHERE len(list_filter([
        |    CASE WHEN n_tok < 5 THEN 'f' END,
        |    CASE WHEN n_tok > 5000 THEN 'f' END,
        |    CASE WHEN mean_len < 2.0 OR mean_len > 12.0 THEN 'f' END,
        |    CASE WHEN alpha_ratio < 0.5 THEN 'f' END,
        |    CASE WHEN punct_ratio >= 0.25 THEN 'f' END,
        |    CASE WHEN stop_ratio <= 0.02 THEN 'f' END],
        |    x -> x IS NOT NULL)) = 0),
        |sc AS (SELECT doc_id,
        |  (CASE WHEN contains(' ' || lower(text) || ' ', ' the ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' and ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' of ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' is ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' with ') THEN 1 ELSE 0 END) AS en,
        |  (CASE WHEN contains(' ' || lower(text) || ' ', ' el ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' la ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' los ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' que ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' con ') THEN 1 ELSE 0 END) AS es,
        |  (CASE WHEN contains(' ' || lower(text) || ' ', ' le ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' les ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' des ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' est ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' avec ') THEN 1 ELSE 0 END) AS fr,
        |  (CASE WHEN contains(' ' || lower(text) || ' ', ' der ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' die ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' und ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' ist ') THEN 1 ELSE 0 END +
        |   CASE WHEN contains(' ' || lower(text) || ' ', ' mit ') THEN 1 ELSE 0 END) AS de,
        |  CASE WHEN regexp_matches(' ' || lower(text) || ' ', '[\x{4e00}-\x{9fff}]')
        |    THEN 10 ELSE 0 END AS zh
        |FROM k),
        |l AS (SELECT doc_id, CASE
        |  WHEN zh >= en AND zh >= es AND zh >= fr AND zh >= de THEN 'zh'
        |  WHEN fr >= en AND fr >= es AND fr >= de AND fr >= zh THEN 'fr'
        |  WHEN es >= en AND es >= fr AND es >= de AND es >= zh THEN 'es'
        |  WHEN en >= es AND en >= fr AND en >= de AND en >= zh THEN 'en'
        |  ELSE 'de' END AS lang_pred
        |FROM sc)
        |SELECT k.doc_id, k.n_tok,
        |  ROUND(LEAST(CAST(k.n_tok AS DOUBLE) / 64.0, 1.0) * 0.5 +
        |    (CASE WHEN k.punct_ratio < 0.25 THEN 1.0 ELSE 0.5 END) * 0.25 +
        |    (CASE WHEN k.stop_ratio > 0.05 THEN 1.0 ELSE 0.6 END) * 0.25, 6) AS quality,
        |  l.lang_pred
        |FROM k JOIN l USING (doc_id)""".stripMargin,

    // same Okapi formula as text_bm25; the procedure returns (id VARCHAR,
    // bm25) and the gate's k exceeds the hit count, so the compared set is
    // the full matching slice
    "text_sql_bm25" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |    t -> len(t) > 0) AS w
        |  FROM documents),
        |dl AS (SELECT doc_id, len(w) AS dl FROM d),
        |stats AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(w) AS term FROM d) t
        |  WHERE term IN ('table', 'query', 'merge') GROUP BY doc_id, term),
        |idf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
        |SELECT CAST(tf.doc_id AS VARCHAR) AS id,
        |  ROUND(SUM(ln((stats.n_docs - idf.df + 0.5) / (idf.df + 0.5) + 1.0)
        |    * tf.tf * 2.2 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))), 6) AS bm25
        |FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |GROUP BY tf.doc_id""".stripMargin,

    // identical gap convention (> 1800s starts a new session) and exact
    // integer microsecond arithmetic on both sides
    "q_sessionize" ->
      """WITH b AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |        OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
        |      THEN 1 ELSE 0 END AS flag
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM b)
        |SELECT user_id, session_idx, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us, COUNT(*) AS n_events
        |FROM s GROUP BY 1, 2""".stripMargin,

    // step i counts only at-or-after step i-1's reach time (>=, ties
    // convert); keys never reaching step 0 are absent, later misses = NULL
    "q_funnel" ->
      """WITH s0 AS (
        |  SELECT user_id, MIN(ts) AS ts_signup FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (
        |  SELECT s0.user_id, s0.ts_signup, MIN(e.ts) AS ts_view
        |  FROM s0 LEFT JOIN events e
        |    ON e.user_id = s0.user_id AND e.event_type = 'view' AND e.ts >= s0.ts_signup
        |  GROUP BY 1, 2),
        |s2 AS (
        |  SELECT s1.*, MIN(e.ts) AS ts_click
        |  FROM s1 LEFT JOIN events e
        |    ON e.user_id = s1.user_id AND e.event_type = 'click' AND e.ts >= s1.ts_view
        |  GROUP BY ALL),
        |s3 AS (
        |  SELECT s2.*, MIN(e.ts) AS ts_purchase
        |  FROM s2 LEFT JOIN events e
        |    ON e.user_id = s2.user_id AND e.event_type = 'purchase' AND e.ts >= s2.ts_click
        |  GROUP BY ALL)
        |SELECT user_id, ts_signup, ts_view, ts_click, ts_purchase,
        |  CAST(1 + CASE WHEN ts_view IS NOT NULL THEN 1 ELSE 0 END
        |    + CASE WHEN ts_click IS NOT NULL THEN 1 ELSE 0 END
        |    + CASE WHEN ts_purchase IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS funnel_depth
        |FROM s3""".stripMargin,

    // exact integer day numbers (floor of epoch_us / day_us is exact for
    // int64 microsecond stamps — only exact multiples yield integer
    // quotients, and those are double-representable), cohort = window min
    "q_retention" ->
      """WITH acts AS (
        |  SELECT DISTINCT user_id AS k,
        |    CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day
        |  FROM events),
        |c AS (
        |  SELECT k, day, MIN(day) OVER (PARTITION BY k) AS cohort_day FROM acts),
        |m AS (
        |  SELECT cohort_day, day - cohort_day AS day_offset, COUNT(*) AS n_active
        |  FROM c GROUP BY 1, 2)
        |SELECT cohort_day, day_offset, CAST(n_active AS BIGINT) AS n_active,
        |  ROUND(CAST(n_active AS DOUBLE) * 100.0 /
        |    MAX(CASE WHEN day_offset = 0 THEN n_active END)
        |      OVER (PARTITION BY cohort_day), 6) AS retention_pct
        |FROM m""".stripMargin,

    "cdc_hot_keys" ->
      s"""$C, counts AS (
         |  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_rows
         |  FROM changelog GROUP BY 1),
         |top AS (SELECT * FROM counts ORDER BY n_rows DESC, conv_id ASC LIMIT 20),
         |tot AS (SELECT COUNT(*) AS t FROM changelog)
         |SELECT conv_id, n_rows,
         |  ROUND(CAST(n_rows AS DOUBLE) / t, 6) AS share,
         |  CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, conv_id ASC) AS BIGINT) AS rank
         |FROM top, tot""".stripMargin,

    "cdc_skew_summary" ->
      s"""$C, counts AS (
         |  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM changelog GROUP BY 1)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(SUM(n) AS BIGINT) AS n_rows_total,
         |  MAX(n) AS max_key_rows,
         |  ROUND(AVG(n), 6) AS avg_key_rows,
         |  ROUND(CAST(MAX(n) AS DOUBLE) * COUNT(*) / SUM(n), 6) AS skew_ratio
         |FROM counts""".stripMargin,

    // same md5 group sharding as text_stratified_sample, same token count
    // as text_stats; the greedy recurrence advances every group in lockstep
    // (anchor = each group's rn 1)
    "text_pack_greedy" ->
      """WITH RECURSIVE d AS (
        |  SELECT
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8
        |      AS group_id,
        |    doc_id,
        |    CAST(CASE WHEN LENGTH(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |      AS n_tokens,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8
        |      ORDER BY doc_id) AS rn
        |  FROM documents),
        |p AS (
        |  SELECT group_id, doc_id, n_tokens, rn,
        |    CAST(0 AS BIGINT) AS bin_idx, CAST(0 AS BIGINT) AS bin_offset,
        |    n_tokens AS used
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.group_id, d.doc_id, d.n_tokens, d.rn,
        |    CASE WHEN p.used > 0 AND p.used + d.n_tokens > 256
        |      THEN p.bin_idx + 1 ELSE p.bin_idx END,
        |    CASE WHEN p.used > 0 AND p.used + d.n_tokens > 256
        |      THEN CAST(0 AS BIGINT) ELSE p.used END,
        |    CASE WHEN p.used > 0 AND p.used + d.n_tokens > 256
        |      THEN d.n_tokens ELSE p.used + d.n_tokens END
        |  FROM p JOIN d ON d.group_id = p.group_id AND d.rn = p.rn + 1)
        |SELECT group_id, doc_id, n_tokens, bin_idx, bin_offset FROM p""".stripMargin)
}
