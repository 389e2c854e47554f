package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** PERSISTED ANN index — the index lifecycle [[Similarity]]'s in-memory
  * operators deliberately leave out. `ivfTopK`/`ivfPqTopK` train + encode
  * per invocation, which is the right shape for a one-shot gate but the
  * wrong cost class for a query service: at 10^10 vectors the train+encode
  * pass dominates every query batch. This module makes the documented scale
  * story ("the list id is the partition key; probes prune files") physical:
  *
  *   build:  train once, assign/encode every vector, write the index as a
  *           list-partitioned parquet dataset
  *             <root>/meta.json                    (variant, dim, nLists, m,
  *                                                  codes, corpusCount, gen,
  *                                                  lastBatchId, schemaJson,
  *                                                  centroidsSchemaJson,
  *                                                  codebooksSchemaJson)
  *             <root>/centroids/                   (coarse quantizer, tiny)
  *             <root>/codebooks/                   (PQ codebooks, tiny)
  *             <root>/vectors/list=<id>/part-….parquet
  *                                 (IVF: vec_id, cv, gen; IVF-PQ: vec_id, nv,
  *                                  codes, gen)
  *             <root>/tombstones/part-….parquet    (vec_id, gen; mutations)
  *   search: compute each query's probed lists from the (tiny, broadcast)
  *           centroids, then read <root>/vectors with `list IN (probed)` —
  *           Hive-style PARTITION PRUNING opens only the probed lists'
  *           directories; unprobed lists' files are never touched (proven in
  *           AnnIndexSpec by corrupting them on disk). The probed-list set
  *           is collected driver-side BY DESIGN: it is ≤ queries × nProbe
  *           ids bounded by nLists (the partition count, not the data), and
  *           it must become a literal predicate to prune at planning time.
  *
  * Layout notes for cluster scale: rows are repartitioned BY LIST before the
  * write, so each list's rows land in one task → one file per list per
  * build/append. A list too large for one file gets a salt column in the
  * repartition (directory-level pruning is unaffected). The LIFECYCLE is
  * build → [[append]] → periodic rebuild: `append` admits newly-arrived
  * vectors by quantizing them against the STORED model (the CDC shape — no
  * retraining pass, appended files land inside the list directories so
  * pruning is untouched), and the periodic rebuild absorbs quantizer drift,
  * which is how IVF indexes are actually operated (centroids drift ⇒
  * periodic retrain anyway; see Jégou/Douze/Schmid, IEEE TPAMI 2011).
  *
  * Id-level UPDATES and DELETES are supported WITHOUT the rebuild via
  * GENERATION-TAGGED tombstones ([[applyChanges]]) — the LSM shape, not the
  * lake-table shape: every row carries the `gen` (batch generation) that
  * admitted it (build = 0, each append/mutation batch = gen+1), and a
  * mutation writes (vec_id, gen) to `<root>/tombstones/`, which at search
  * time kills every row of that id with a STRICTLY OLDER gen — an update's
  * tombstone and its replacement row share one gen, so the replacement
  * survives by construction, and a later re-insert outlives an earlier
  * delete. Search cost: one scan of the (tiny, O(mutations-since-rebuild))
  * tombstone dataset + a join on id before ranking; probe-time partition
  * pruning is untouched because tombstones live outside the list dirs.
  * The periodic rebuild compacts tombstones away exactly like an LSM major
  * compaction.
  *
  * ONE COMMIT for every write after the build ([[append]], [[applyChanges]];
  * see [[commit]]): recover, read the meta, validate the batch, journal the
  * pre-write generation and file listing to `<root>/apply_inflight.json`,
  * write the files stamped `gen + 1`, then publish the meta — the new `gen`
  * and `corpusCount`, plus `lastBatchId` when the caller names a batch — in
  * one atomic rename. That rename is the commit point; the journal is
  * deleted after it. [[recover]] (run first by every write and by
  * [[graft.streaming.AnnMaintenance]]) deletes the files the journal does not
  * list only while the meta still holds the journal's generation, so a
  * write killed anywhere is either wholly absent or wholly committed.
  * `lastBatchId` is the maintenance stream's exactly-once ledger: it commits
  * with the batch's data, in the same meta write.
  */
object AnnIndex {

  /** `schemaJson` is the vectors dataset's EXPLICIT schema (incl. the `list`
    * partition column): reads never footer-sniff or type-infer, so opening
    * the index touches exactly meta + centroids + the probed lists' files.
    * `gen` is the index's current generation — the batch counter that stamps
    * appended rows and tombstones (see the class doc's LWW rule).
    * `lastBatchId` is the last maintenance batch the index holds (−1: none).
    */
  final case class Meta(variant: String, dim: Int, nLists: Int, m: Int,
      codes: Int, corpusCount: Long, schemaJson: String, gen: Long = 0L,
      centroidsSchemaJson: String = "", codebooksSchemaJson: String = "",
      lastBatchId: Long = -1L) {
    def schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    private def parse(json: String) =
      if (json.isEmpty) None
      else Some(org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    /** Stored schema of `<root>/centroids` — reading with it skips the
      * per-open footer-inference Spark job (measured 25-165 ms each; an
      * append + search paid up to six such jobs). Empty on pre-upgrade
      * indexes → caller falls back to inference.
      */
    def centroidsSchema: Option[org.apache.spark.sql.types.StructType] =
      parse(centroidsSchemaJson)
    def codebooksSchema: Option[org.apache.spark.sql.types.StructType] =
      parse(codebooksSchemaJson)
  }

  /** Open a stored side dataset with its recorded schema when the meta
    * carries one (no footer-inference job), falling back to inference for
    * indexes written before the schema was recorded.
    */
  private def readWithSchema(spark: SparkSession, path: String,
      stored: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    stored match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** Write `node` to `<root>/<name>` through the sibling `.tmp-<name>` and
    * one atomic rename (as [[graft.table.LakeTable.writeManifest]] does): a
    * kill mid-write leaves the previous file whole and at worst a torn temp
    * file, which the next write of `name` replaces.
    */
  private def writeAtomically(root: String, name: String, node: JsonNode): Unit = {
    val tmp = Paths.get(root, s".tmp-$name")
    Files.createDirectories(tmp.getParent)
    Files.write(tmp, new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(node))
    Files.move(tmp, Paths.get(root, name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def writeMeta(root: String, meta: Meta): Unit = {
    val node = new ObjectMapper().createObjectNode()
    node.put("variant", meta.variant)
    node.put("dim", meta.dim)
    node.put("nLists", meta.nLists)
    node.put("m", meta.m)
    node.put("codes", meta.codes)
    node.put("corpusCount", meta.corpusCount)
    node.put("gen", meta.gen)
    node.put("lastBatchId", meta.lastBatchId)
    node.put("schemaJson", meta.schemaJson)
    node.put("centroidsSchemaJson", meta.centroidsSchemaJson)
    node.put("codebooksSchemaJson", meta.codebooksSchemaJson)
    writeAtomically(root, "meta.json", node)
  }

  /** Publish a meta with no file write — [[graft.streaming.AnnMaintenance]]
    * records a batch with no index work by its `lastBatchId` alone. One
    * atomic write, so it needs no journal. Not a public mutation surface.
    */
  private[graft] def writeMetaFor(root: String, meta: Meta): Unit =
    writeMeta(root, meta)

  def readMeta(root: String): Meta = {
    val om = new ObjectMapper()
    val n = om.readTree(Files.readAllBytes(Paths.get(root, "meta.json")))
    Meta(n.get("variant").asText(), n.get("dim").asInt(), n.get("nLists").asInt(),
      n.get("m").asInt(), n.get("codes").asInt(), n.get("corpusCount").asLong(),
      n.get("schemaJson").asText(),
      Option(n.get("gen")).map(_.asLong()).getOrElse(0L),
      Option(n.get("centroidsSchemaJson")).map(_.asText()).getOrElse(""),
      Option(n.get("codebooksSchemaJson")).map(_.asText()).getOrElse(""),
      Option(n.get("lastBatchId")).map(_.asLong()).getOrElse(-1L))
  }

  // --- IVF-flat ------------------------------------------------------------

  /** Train the coarse quantizer and persist the full-vector inverted file.
    * One exchange (the by-list repartition) beyond the training passes.
    */
  def buildIvf(corpus: DataFrame, root: String, nLists: Int = 16,
      iters: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding"): Meta = {
    val spark = corpus.sparkSession
    // dim + corpusCount ride the checkpoint job via observe() (formerly a
    // separate aggregation job over the checkpointed rows)
    val obs = org.apache.spark.sql.Observation()
    val c = Par.spread(corpus).select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .observe(obs, max(size(col("cv"))).as("dim"), count(lit(1)).as("n"))
      .localCheckpoint(true)
    val dim = Option(obs.get("dim")).fold(0)(_.asInstanceOf[Int])
    require(dim > 0, s"buildIvf: empty corpus (no non-empty '$vecCol' vector to index)")
    val corpusCount = obs.get("n").asInstanceOf[Long]
    val centroids = Similarity.trainIvfCentroids(c, nLists, iters)
    centroids.write.mode("overwrite").parquet(s"$root/centroids")
    val indexed = Similarity.assignListsCos(c, centroids, "vec_id", "cv")
      .withColumn("gen", lit(0L))
    indexed
      .repartition(col("list")) // one task (→ one file) per list
      // static overwrite ALWAYS: under the session's dynamic mode a rebuild
      // on a shrunk corpus would keep any list the new assignment leaves
      // empty — stale rows whose tombstones clearTombstones is about to drop
      .write.option("partitionOverwriteMode", "static")
      .mode("overwrite").partitionBy("list").parquet(s"$root/vectors")
    publishBuild(root, Meta("ivf", dim, nLists, 0, 0, corpusCount,
      indexed.schema.json, centroidsSchemaJson = centroids.schema.json))
  }

  /** The build's commit: the tombstones die with the generations they
    * numbered ([[clearTombstones]]), the rebuild supersedes any torn write's
    * journal, and the maintenance stream's `lastBatchId` carries over, so a
    * replayed batch the rebuilt corpus already holds stays a no-op.
    */
  private def publishBuild(root: String, meta: Meta): Meta = {
    val built = meta.copy(lastBatchId =
      if (Files.exists(Paths.get(root, "meta.json"))) readMeta(root).lastBatchId
      else -1L)
    clearTombstones(root)
    Files.deleteIfExists(Paths.get(root, Journal))
    writeMeta(root, built)
    built
  }

  // --- append: both variants ----------------------------------------------

  /** Incrementally APPEND new vectors to a persisted index — the CDC shape:
    * documents keep arriving between periodic retrains, and re-training +
    * re-encoding 10^10 stored vectors to admit a day's worth of new ones is
    * the wrong cost class. The variant comes from the meta: IVF assigns the
    * new vectors to lists by the STORED centroids, IVF-PQ residual-encodes
    * them against the STORED coarse quantizer + codebooks
    * ([[Similarity.encodePq]], the exact encoder the build used) — no
    * training pass either way — and their files land inside the existing
    * `list=<id>` directories, so probe-time partition pruning is untouched.
    * `corpusCount` (which sizes IVF-PQ's auto-refine,
    * [[Similarity.effectiveRefine]]) moves in the meta write that commits
    * the batch — a reader that races the append sees the old complete meta
    * (the honest caveat: a CONCURRENT search's directory listing may see a
    * partial append's files; serialize appends against reads, or front the
    * index with the lake table when that matters). `batchId` ≥ 0 is
    * recorded as the meta's `lastBatchId` in the same write.
    *
    * Append-ONLY by contract: the caller appends NEW vec_ids. Replacing an
    * existing id needs [[applyChanges]] or the rebuild; a duplicated id
    * would simply appear twice. Centroid DRIFT is the appender's operating
    * limit — vectors from a distribution the training never saw still land
    * in their nearest stored list (search stays CORRECT at any probe count;
    * exhaustive probe stays exact), but lists grow lopsided and partial-
    * probe recall decays ⇒ periodic rebuild, which is how IVF indexes are
    * actually operated. On IVF-PQ drift also costs CODE fidelity, since the
    * codebooks never saw the new residual distribution, so the refine
    * window is the appended vectors' safety net until the next rebuild.
    *
    * Every vector must match the index's dimension BEFORE any file is
    * written — a silently-appended wrong-width vector would poison every
    * later search that probes its list. The check and the row count ride
    * the batch's checkpoint job via observe(), so they cost no job of their
    * own.
    */
  def append(spark: SparkSession, root: String, vectors: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      batchId: Long = -1L): Meta = {
    recover(root)
    val meta = readMeta(root)
    val obs = org.apache.spark.sql.Observation()
    val c = Par.spread(vectors)
      .select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .observe(obs, count(when(size(col("cv")) =!= meta.dim, 1)).as("bad"),
        count(lit(1)).as("n"))
      .localCheckpoint(true)
    val bad = obs.get("bad").asInstanceOf[Long]
    require(bad == 0L,
      s"append batch has $bad vector(s) whose dimension != the index's ${meta.dim}")
    commit(root, meta, batchId) { gen =>
      appendRows(spark, root, meta, c, gen)
      meta.corpusCount + obs.get("n").asInstanceOf[Long]
    }
  }

  /** Quantize `c` (vec_id, cv) against the stored model — IVF: assign lists
    * by the centroids; IVF-PQ: residual-encode — and append the rows stamped
    * with `gen`. The write half shared by [[append]] and [[applyChanges]].
    */
  private def appendRows(spark: SparkSession, root: String, meta: Meta,
      c: DataFrame, gen: Long): Unit = {
    val centroids = readWithSchema(spark, s"$root/centroids", meta.centroidsSchema)
    val rows =
      if (meta.variant == "ivf") Similarity.assignListsCos(c, centroids, "vec_id", "cv")
      else Similarity.encodePq(centroids,
        readWithSchema(spark, s"$root/codebooks", meta.codebooksSchema), c,
        meta.m, meta.dim / meta.m)
    rows.withColumn("gen", lit(gen))
      .repartition(col("list"))
      .write.mode("append").partitionBy("list").parquet(s"$root/vectors")
  }

  // --- mutations: generation-tagged tombstones (the LSM shape) --------------

  /** Apply ONE CDC batch of inserts/updates/deletes to the index, LWW-
    * correctly, without a rebuild. `changes` carries (id, vector,
    * change_type ∈ insert|update|delete); the whole batch becomes ONE new
    * generation `meta.gen + 1`:
    *
    *   - update/delete → a (vec_id, gen) tombstone, which kills every
    *     stored row of that id with a STRICTLY older gen;
    *   - insert/update (vector non-null) → rows quantized against the
    *     stored model and appended stamped with the SAME gen — so an
    *     update's replacement outlives its own tombstone, and a re-insert
    *     after a delete outlives the delete.
    *
    * AT MOST ONE change per id per batch — ENFORCED, not assumed: a second
    * change for one id would tie on gen (two live versions, or a masked
    * delete), so duplicate ids fail loudly. The lake change feed satisfies
    * this per table key automatically (each micro-batch is a net endpoint
    * diff); an id column COARSER than the table key (e.g. indexing one
    * vector per conv_id over a (conv_id, turn_idx)-keyed table) must be
    * collapsed to one change per id by the caller first.
    * An update whose vector is null degrades to a delete (tombstone, no
    * append). CRASH-SAFE on its own: the batch goes through the one
    * [[commit]], so a crash anywhere inside it can never leave two live
    * versions or double-admit a row (the journal's listing costs O(index
    * files), bounded by the periodic rebuild). `batchId` ≥ 0 is recorded as
    * the meta's `lastBatchId` in the commit.
    * `corpusCount` (auto-refine sizing) tracks appended − deleted rows
    * (null-vector inserts are no-ops and not counted), approximate under
    * deletes of absent ids; the periodic rebuild re-exacts it and compacts
    * tombstones away.
    */
  def applyChanges(spark: SparkSession, root: String, changes: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      typeCol: String = "change_type", batchId: Long = -1L): Meta = {
    recover(root)
    val meta = readMeta(root)
    // every per-row count — including the dimension check — rides the
    // batch's checkpoint job via observe(); only the distinct-id tie check
    // (observe cannot carry DISTINCT aggregates) stays a second (single) job
    val chObs = org.apache.spark.sql.Observation()
    val ch = changes.select(col(idCol).as("vec_id"), col(vecCol).as("cv"),
      col(typeCol).as("ct"))
      .observe(chObs,
        count(when(col("ct") === "insert" && col("cv").isNotNull, 1)).as("iLive"),
        count(when(col("ct") === "update", 1)).as("u"),
        count(when(col("ct") === "update" && col("cv").isNull, 1)).as("uNull"),
        count(when(col("ct") === "delete", 1)).as("d"),
        // isNull checked explicitly: `!isin(...)` is NULL (not true) for a
        // null change type, which would let the row slip past this guard and
        // then vanish from both the tombstone and append filters silently
        count(when(col("ct").isNull ||
          !col("ct").isin("insert", "update", "delete"), 1)).as("x"),
        count(lit(1)).as("tot"),
        count(when(col("ct").isin("insert", "update") && col("cv").isNotNull &&
          size(col("cv")) =!= meta.dim, 1)).as("badDim"))
      .localCheckpoint(true)
    def long(name: String): Long = chObs.get(name).asInstanceOf[Long]
    val (nInsLive, nUpd, nUpdNull, nDel, nOther, nTot, nBadDim) =
      (long("iLive"), long("u"), long("uNull"), long("d"), long("x"),
        long("tot"), long("badDim"))
    require(nOther == 0L,
      s"applyChanges: $nOther row(s) with change type outside insert|update|delete")
    val nIds = ch.agg(countDistinct(col("vec_id")).as("ids")).first().getLong(0)
    if (nTot != nIds) {
      val dups = ch.groupBy("vec_id").count().filter(col("count") > 1)
        .limit(5).collect().map(_.get(0)).mkString(", ")
      throw new IllegalArgumentException(
        s"applyChanges: ${nTot - nIds} extra change(s) for already-changed id(s) " +
          s"in one batch (e.g. $dups) — two changes for one id would tie on " +
          "generation. If the id column is coarser than the table key " +
          "(e.g. conv_id over a (conv_id, turn_idx) table), collapse the batch " +
          "to one net change per id before applying")
    }
    val adds = ch.filter(col("ct").isin("insert", "update") && col("cv").isNotNull)
      .select(col("vec_id"), col("cv"))
    // validated BEFORE the first write (the observation completes with the
    // checkpoint): a failure after the tombstones land would leave a
    // half-applied generation that hides the mutated ids from every search
    // (searches never run recover) until the next write rolls it back
    require(nBadDim == 0L,
      s"append batch has $nBadDim vector(s) whose dimension != the index's ${meta.dim}")
    commit(root, meta, batchId) { gen =>
      if (nUpd + nDel > 0)
        ch.filter(col("ct").isin("update", "delete"))
          .select(col("vec_id"), lit(gen).as("gen"))
          .coalesce(1) // tombstones are tiny; one file per batch
          .write.mode("append").parquet(s"$root/tombstones")
      if (nInsLive + (nUpd - nUpdNull) > 0) appendRows(spark, root, meta, adds, gen)
      // appended − deleted rows: null-vector inserts never land, a null-vector
      // update removes its row (tombstone with no replacement)
      math.max(0L, meta.corpusCount + nInsLive - nDel - nUpdNull)
    }
  }

  /** An in-place rebuild is the LSM major compaction: the new index re-
    * encodes the SURVIVING corpus and renumbers every row gen=0, so the
    * tombstones — which kill by OLD generation numbers — must die with the
    * generation they numbered. Leaving them would be worse than stale: a
    * surviving tombstone (gen ≥ 1) outranks every rebuilt row (gen = 0)
    * and would hide exactly the ids that were ever updated — the ones a
    * live table is most likely to still contain.
    */
  private def clearTombstones(root: String): Unit = {
    val dir = Paths.get(root, "tombstones")
    if (Files.exists(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Drop `<root>/tombstones` if [[recover]] emptied it: [[liveRows]] keys
    * its fast path on the DIRECTORY existing, so an empty husk left by a
    * torn first-ever mutation batch would tax every future search on an
    * otherwise append-only index with a pointless scan + join.
    */
  private def pruneEmptyTombstoneDir(root: String): Unit = {
    val dir = Paths.get(root, "tombstones")
    if (!Files.exists(dir)) return
    val s = Files.walk(dir)
    val hasFiles = try s.iterator().asScala.exists(Files.isRegularFile(_))
      finally s.close()
    if (!hasFiles)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** All data files under `<root>/vectors` and `<root>/tombstones`, root-
    * relative — the listing the journal records. O(index files), which the
    * periodic rebuild bounds the same way compaction bounds a manifest.
    */
  private[graft] def listIndexFiles(root: String): Set[String] = {
    def walk(sub: String): Set[String] = {
      val base = Paths.get(root, sub)
      if (!Files.exists(base)) return Set.empty
      val s = Files.walk(base)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => s"$sub/${base.relativize(p)}").toSet
      finally s.close()
    }
    walk("vectors") ++ walk("tombstones")
  }

  // --- the one commit: journal, files, meta -----------------------------------

  private val Journal = "apply_inflight.json"

  /** Journal a write's pre-write generation and file listing. Package-
    * visible so specs can re-arm the journal a killed write leaves.
    */
  private[graft] def writeJournal(root: String, preGen: Long,
      preFiles: Set[String]): Unit = {
    val node = new ObjectMapper().createObjectNode()
    node.put("preGen", preGen)
    val arr = node.putArray("preFiles")
    preFiles.toSeq.sorted.foreach(arr.add)
    writeAtomically(root, Journal, node)
  }

  /** The commit of every write after the build, on the `meta` its caller
    * read after [[recover]] and validated its batch against: journal
    * (`meta.gen`, the file listing), `write(gen)` the batch's files stamped
    * `gen = meta.gen + 1` (it returns the new corpusCount), publish the meta
    * with the new `gen`, `corpusCount` and — for `batchId` ≥ 0 —
    * `lastBatchId` in one atomic write (THE commit point), then drop the
    * journal.
    */
  private def commit(root: String, meta: Meta, batchId: Long)(
      write: Long => Long): Meta = {
    writeJournal(root, meta.gen, listIndexFiles(root))
    val gen = meta.gen + 1
    val updated = meta.copy(corpusCount = write(gen), gen = gen,
      lastBatchId = math.max(meta.lastBatchId, batchId))
    writeMeta(root, updated)
    Files.delete(Paths.get(root, Journal))
    updated
  }

  /** Settle the write a kill interrupted. While the meta still holds the
    * journal's `preGen` the write never committed: delete every index file
    * the journal does not list (only index writes land there) and an
    * emptied tombstones dir. Past it the meta write committed, and the files
    * stay. The meta is never rewritten; the journal is always dropped.
    */
  private[graft] def recover(root: String): Unit = {
    val p = Paths.get(root, Journal)
    if (!Files.exists(p)) return
    val n = new ObjectMapper().readTree(Files.readAllBytes(p))
    if (readMeta(root).gen == n.get("preGen").asLong()) {
      val pre = n.get("preFiles").elements().asScala.map(_.asText()).toSet
      (listIndexFiles(root) -- pre).foreach(rel => Files.deleteIfExists(Paths.get(root, rel)))
      pruneEmptyTombstoneDir(root)
    }
    Files.delete(p)
  }

  /** Filter stored rows against the tombstone dataset: a row dies iff some
    * tombstone for its id carries a strictly newer gen. No tombstone dir =
    * no cost (the pure append-only lifecycle never pays for mutations).
    */
  private def liveRows(spark: SparkSession, root: String, meta: Meta,
      rows: DataFrame): DataFrame = {
    if (!Files.exists(Paths.get(root, "tombstones"))) return rows
    val ts = org.apache.spark.sql.types.StructType(Seq(
      meta.schema("vec_id"),
      org.apache.spark.sql.types.StructField("gen",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val tomb = spark.read.schema(ts).parquet(s"$root/tombstones")
      .groupBy("vec_id").agg(max("gen").as("__tgen"))
    rows.join(tomb, Seq("vec_id"), "left")
      .filter(col("__tgen").isNull || col("gen") >= col("__tgen"))
      .drop("__tgen")
  }

  /** Search a persisted IVF index: probes from the stored centroids, probed
    * lists' files ONLY (partition pruning), exact-cosine re-rank. Needs no
    * corpus access — the index carries the full vectors.
    */
  def searchIvf(spark: SparkSession, root: String, queries: DataFrame, k: Int,
      nProbe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val meta = readMeta(root)
    require(meta.variant == "ivf", s"index at $root is ${meta.variant}")
    val centroids = readWithSchema(spark, s"$root/centroids", meta.centroidsSchema)
    // no q checkpoint: the probe assignment carries qv through to the
    // re-rank, so q has exactly one consumer
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // the pruning literal (distinct probed lists, bounded by nLists) rides
    // the probe checkpoint's own job via observe() — formerly a separate
    // distinct+collect job over the checkpointed rows
    val obs = org.apache.spark.sql.Observation()
    val probes = Similarity.probeListsCos(q, centroids, nProbe)
      .observe(obs, collect_set(col("list").cast("int")).as("lists"))
      .localCheckpoint(true) // consumed by the pruning literal + the join
    val probed = Option(obs.get("lists")).map(_.asInstanceOf[Seq[Int]])
      .getOrElse(Seq.empty)
    val indexed = spark.read.schema(meta.schema).parquet(s"$root/vectors")
      .filter(col("list").isin(probed: _*))
    Similarity.searchIvfCore(liveRows(spark, root, meta, indexed), probes, k)
  }

  // --- IVF-PQ --------------------------------------------------------------

  /** Train coarse + PQ codebooks, encode every vector, persist the compact
    * index: m one-byte codes + one norm per vector, list-partitioned. The
    * codes ride as an array ordered by subspace (pivoted from the model's
    * long shape), so the stored bytes stay O(m) per vector.
    */
  def buildIvfPq(corpus: DataFrame, root: String, nLists: Int = 8,
      m: Int = 8, codes: Int = 16, iters: Int = 2, trainSample: Double = 1.0,
      idCol: String = "vec_id", vecCol: String = "embedding"): Meta = {
    val model = Similarity.buildPqModel(corpus, nLists, m, codes, iters,
      trainSample, idCol, vecCol)
    model.coarse.write.mode("overwrite").parquet(s"$root/centroids")
    model.cbs.write.mode("overwrite").parquet(s"$root/codebooks")
    val wide = model.encoded.withColumn("gen", lit(0L))
    wide
      .repartition(col("list"))
      // static overwrite ALWAYS — see buildIvf: dynamic mode would keep
      // lists the new assignment leaves empty, resurrecting dead rows
      .write.option("partitionOverwriteMode", "static")
      .mode("overwrite").partitionBy("list").parquet(s"$root/vectors")
    publishBuild(root, Meta("ivfpq", model.dim, nLists, m, codes,
      model.corpusCount, wide.schema.json,
      centroidsSchemaJson = model.coarse.schema.json,
      codebooksSchemaJson = model.cbs.schema.json))
  }

  /** Search a persisted IVF-PQ index: ADC scoring over the probed lists'
    * code files only (partition pruning — the scan reads m bytes + a norm
    * per candidate, never a float vector), then exact re-rank against
    * `corpus` by id join (point lookups into the primary store — the index
    * stays m-bytes-per-vector). `refine` ≤ 0 = auto, sized from the stored
    * corpusCount ([[Similarity.effectiveRefine]]'s near-tie defense).
    */
  def searchIvfPq(spark: SparkSession, root: String, corpus: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int, refine: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val meta = readMeta(root)
    require(meta.variant == "ivfpq", s"index at $root is ${meta.variant}")
    val coarse = readWithSchema(spark, s"$root/centroids", meta.centroidsSchema)
    val cbs = readWithSchema(spark, s"$root/codebooks", meta.codebooksSchema)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .localCheckpoint(true)
    // ONE probe assignment (L2-to-centroid, the coarse quantizer's metric)
    // serves both the partition-pruning literal and the ADC scoring join —
    // computed by the same code the in-memory path uses, so pruning can
    // never diverge from scoring
    // pruning literal rides the checkpoint job — see [[searchIvf]]
    val pObs = org.apache.spark.sql.Observation()
    val probes = Similarity.probeListsL2(q, coarse, nProbe)
      .observe(pObs, collect_set(col("list").cast("int")).as("lists"))
      .localCheckpoint(true) // probed twice: pruning literal + scoring join
    val probed = Option(pObs.get("lists")).map(_.asInstanceOf[Seq[Int]])
      .getOrElse(Seq.empty)
    val wide = spark.read.schema(meta.schema).parquet(s"$root/vectors")
      .filter(col("list").isin(probed: _*))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
    Similarity.searchPqCore(liveRows(spark, root, meta, wide), probes, cbs, c,
      q, k, nProbe, refine, meta.m, meta.dim / meta.m, meta.nLists,
      meta.corpusCount)
  }
}
