package graft.table

import graft.operators.{AnnIndex, MergeApplier, TextRank}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The SQL maintenance surface: `CALL cat.system.<proc>(...)` stored
  * procedures (Spark 4's DSv2 ProcedureCatalog, the same mechanism Iceberg
  * exposes its table maintenance through). Maintenance is the half of a
  * lakehouse users script from SQL consoles and schedulers — without CALL,
  * compaction/vacuum/rollback need a JVM entry point; with it, `CALL
  * lake.system.compact('events')` is a one-liner in any SQL client.
  *
  * Procedures delegate to the SAME engine entry points the programmatic and
  * CLI surfaces use (`MergeApplier.compact*`/`rebucket`, `LakeTable
  * .vacuum/rollback/tag/dropTag`) — one implementation, three surfaces, so
  * the SQL path cannot drift semantically.
  *
  * Every procedure is one entry of [[registry]], as the catalog's text
  * functions are one entry of [[LakeTextFunctions]]: its name, description,
  * parameters (with their SQL defaults), result columns, and a body from the
  * coerced argument row to result rows. One class, [[LakeProcedure]], serves
  * them all: it returns the body's rows as a [[LocalScan]] relation — one
  * summary row for maintenance, the ranked top-k rows for `bm25` and
  * `ann_topk` — built on the driver (the distributed work happens inside
  * the engine call). Spark invokes a procedure during analysis of the CALL
  * statement, so effects are immediate and exactly-once per statement.
  *
  * Concurrency contract is inherited, not reinvented: compaction YIELDS to
  * sustained concurrent writers (returns `yielded = true`, rows = 0) rather
  * than fighting ingest; rollback/tag are O(metadata) CAS commits; vacuum
  * honors tags and the grace window.
  */
object LakeProcedures {

  /** One procedure: what SQL sees of it, and the body that runs it. */
  private final case class Proc(name: String, description: String,
      parameters: Seq[ProcedureParameter], result: StructType)(val body: Args => Seq[Row])

  /** The coerced argument row of one call, with the readers every body
    * shares. A null optional argument reads as its default.
    */
  private final class Args(proc: String, row: InternalRow, resolveRoot: String => String) {
    def spark: SparkSession = SparkSession.active
    def isNull(i: Int): Boolean = row.isNullAt(i)
    def str(i: Int): String = row.getUTF8String(i).toString
    def str(i: Int, default: => String): String = if (row.isNullAt(i)) default else str(i)
    def int(i: Int): Int = row.getInt(i)
    def int(i: Int, default: Int): Int = if (row.isNullAt(i)) default else row.getInt(i)
    def long(i: Int): Long = row.getLong(i)
    def long(i: Int, default: => Long): Long = if (row.isNullAt(i)) default else row.getLong(i)
    def flag(i: Int): Boolean = !row.isNullAt(i) && row.getBoolean(i)

    /** The string at `i`, which must not be null; `what` names it in the error. */
    def required(i: Int, what: String): String = {
      require(!row.isNullAt(i), s"$proc: $what must not be null")
      str(i)
    }

    /** The lake table the argument at `i` names ("tbl" or "ns.tbl",
      * relative to the catalog base); it must have a committed snapshot.
      */
    def table(i: Int): LakeTable = {
      val ident = required(i, "table argument")
      val t = LakeTable.open(resolveRoot(ident))
      require(t.currentSnapshot().nonEmpty, s"$proc: no lake table at '$ident'")
      t
    }

    /** The ANN procedures' `index` argument (position 0). It resolves through
      * the SAME base-relative mapping tables use (`'idx/docs'` →
      * `<base>/idx/docs`), so an index lives next to the tables it serves
      * and the SQL user never types a filesystem path. Vector inputs are any
      * session-visible relation (temp view, catalog table) — a procedure
      * never owns the primary store, it quantizes what the view yields.
      */
    def index: String = resolveRoot(required(0, "index argument"))
  }

  private def p(name: String, dt: DataType) = ProcedureParameter.in(name, dt).build()
  private def pDefault(name: String, dt: DataType, sql: String) =
    ProcedureParameter.in(name, dt).defaultValue(sql).build()
  private def cols(nullable: Boolean, fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, dt) => StructField(n, dt, nullable) })

  private val registry: Seq[Proc] = Seq(
    /** `CALL cat.system.compact('tbl' [, buckets => '0,3,7'])` — fold MOR
      * deltas and rewrite; tombstones RETAINED (a maintenance policy cannot
      * know how late the source runs — expiry stays the ingest policy's
      * call). `buckets` names a selective pass (O(targets), the maintenance
      * unit for a skewed tail); NULL = full pass (also resets the manifest
      * list length). `yielded = true` means the compactor stepped aside for a
      * sustained faster concurrent writer — retry later, nothing happened.
      */
    Proc("compact",
      "compact(table, buckets => NULL, text_index => false): fold deltas, tombstone-retaining; buckets = comma list for a selective pass; text_index builds per-file token blooms for searchText",
      Seq(p("table", StringType), pDefault("buckets", StringType, "NULL"),
        pDefault("text_index", BooleanType, "false")),
      cols(nullable = false, "rows_written" -> LongType, "version" -> LongType,
        "yielded" -> BooleanType)) { a =>
      val t = a.table(0)
      val rows =
        if (a.isNull(1)) MergeApplier.compactRetainTombstones(a.spark, t, a.flag(2))
        else {
          val buckets = a.str(1).split(",").map(_.trim.toInt).toSet
          require(buckets.nonEmpty && buckets.forall(b => b >= 0 && b < t.numBuckets),
            s"compact: buckets must be in [0, ${t.numBuckets}), got $buckets")
          MergeApplier.compactBucketsRetainTombstones(a.spark, t, buckets, a.flag(2))
        }
      val v = t.currentSnapshot().map(_.version).getOrElse(-1L)
      Seq(Row(math.max(rows, 0L), v, rows < 0))
    },

    /** `CALL cat.system.vacuum('tbl' [, keep_last => 2, grace_ms => 3600000])`
      * — sweep unreferenced data files, orphaned attempts and expired
      * snapshots. Tagged snapshots are retained regardless of keep_last; the
      * grace window protects in-flight commits.
      */
    Proc("vacuum",
      "vacuum(table, keep_last => 1, grace_ms => 3600000): sweep unreferenced files + expired snapshots",
      Seq(p("table", StringType), pDefault("keep_last", IntegerType, "1"),
        pDefault("grace_ms", LongType, "3600000")),
      cols(nullable = false, "files_removed" -> IntegerType)) { a =>
      val t = a.table(0)
      Seq(Row(t.vacuum(a.int(1, 1), a.long(2, 3600000L))))
    },

    /** `CALL cat.system.rollback('tbl', 3)` — new commit referencing the
      * target version's manifests (O(1) metadata); the idempotence ledger
      * rolls back too, so a resumed writer re-applies and converges.
      */
    Proc("rollback", "rollback(table, version): restore a previous snapshot as a new commit",
      Seq(p("table", StringType), p("version", LongType)),
      cols(nullable = false, "restored_version" -> LongType, "new_version" -> LongType)) { a =>
      val t = a.table(0)
      val target = a.long(1)
      Seq(Row(target, t.rollback(target).version))
    },

    /** `CALL cat.system.rebucket('tbl', 64)` — rewrite under a new bucket
      * count (the COW rewrite-unit resize; a full one-shuffle rewrite, the
      * honest cost of changing the table's physical identity). Open handles
      * become stale by contract and fail loudly on their next apply.
      */
    Proc("rebucket", "rebucket(table, num_buckets): rewrite the table under a new bucket count",
      Seq(p("table", StringType), p("num_buckets", IntegerType)),
      cols(nullable = false, "num_buckets" -> IntegerType, "version" -> LongType)) { a =>
      val resized = MergeApplier.rebucket(a.spark, a.table(0), a.int(1))
      Seq(Row(resized.numBuckets, resized.currentSnapshot().map(_.version).getOrElse(-1L)))
    },

    /** `CALL cat.system.tag('tbl', 'release-1' [, version => 3])` — immutable
      * named ref (default: the current version); vacuum retains it until
      * dropped. Re-tagging an existing name fails loudly.
      */
    Proc("tag", "tag(table, name, version => NULL): create an immutable named version ref",
      Seq(p("table", StringType), p("name", StringType), pDefault("version", LongType, "NULL")),
      cols(nullable = false, "name" -> StringType, "version" -> LongType)) { a =>
      val t = a.table(0)
      val tagName = a.required(1, "name")
      val version = a.long(2, t.currentSnapshot().get.version)
      t.tag(tagName, version)
      Seq(Row(tagName, version))
    },

    /** `CALL cat.system.drop_tag('tbl', 'release-1')` — release the ref; the
      * next vacuum may sweep the snapshot it pinned.
      */
    Proc("drop_tag", "drop_tag(table, name): remove a named version ref",
      Seq(p("table", StringType), p("name", StringType)),
      cols(nullable = false, "existed" -> BooleanType)) { a =>
      val t = a.table(0)
      val tagName = a.required(1, "name")
      val existed = t.tags().contains(tagName)
      t.dropTag(tagName)
      Seq(Row(existed))
    },

    /** `CALL cat.system.bm25(view => 'docs', terms => 'table,query', k => 100)`
      * — the TVF-shaped SQL face of [[graft.operators.TextRank.bm25]]: rank
      * any session-visible relation (temp view, catalog table) against a
      * comma-separated probe-term bag and return the top-k `(id, bm25)` rows,
      * ordered by (score desc, id) — a deterministic tie-break, so the same
      * call always returns the same set. The ranking itself is the engine's
      * distributed expression pipeline (one tokenization pass, 1-row broadcast
      * stats, TakeOrdered top-k); only the k result rows reach the driver,
      * which is why k is bounded — the result is a LocalScan relation, and an
      * unbounded "top-k" is a corpus download wearing a hat.
      */
    Proc("bm25",
      "bm25(view, terms, id_col => 'doc_id', text_col => 'text', k => 100): " +
        "Okapi BM25 top-k of a session-visible relation against probe terms",
      Seq(p("view", StringType), p("terms", StringType),
        pDefault("id_col", StringType, "'doc_id'"), pDefault("text_col", StringType, "'text'"),
        pDefault("k", IntegerType, "100")),
      cols(nullable = true, "id" -> StringType, "bm25" -> DoubleType)) { a =>
      require(!a.isNull(0) && !a.isNull(1), "bm25: view and terms must not be null")
      val terms = a.str(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val idCol = a.str(2, "doc_id")
      val k = a.int(4, 100)
      require(k > 0 && k <= 100000,
        s"bm25: k must be in [1, 100000] (the result is a driver-side relation), got $k")
      TextRank.bm25(a.spark.table(a.str(0)), terms, idCol, a.str(3, "text"))
        .orderBy(col("bm25").desc, col(idCol))
        .limit(k)
        .select(col(idCol).cast("string").as("id"), col("bm25"))
        .collect().toSeq
    },

    /** `CALL cat.system.ann_build(index => 'idx/docs', view => 'vectors',
      * variant => 'ivf'|'ivfpq', ...)` — train + persist the list-partitioned
      * ANN index ([[graft.operators.AnnIndex.buildIvf]]/[[graft.operators
      * .AnnIndex.buildIvfPq]]) from SQL: the index lifecycle (build → append
      * → periodic rebuild) becomes scriptable from any SQL client, same as
      * compaction. The distributed work (Lloyd training, assignment/encoding,
      * the by-list write) is the engine's; only the one summary row reaches
      * the driver.
      */
    Proc("ann_build",
      "ann_build(index, view, variant => 'ivf', n_lists => 8, m => 8, codes => 16, " +
        "iters => 3, id_col => 'vec_id', vec_col => 'embedding'): train + persist a " +
        "list-partitioned ANN index (variant 'ivf' = full vectors, 'ivfpq' = m-byte PQ codes)",
      Seq(p("index", StringType), p("view", StringType),
        pDefault("variant", StringType, "'ivf'"), pDefault("n_lists", IntegerType, "8"),
        pDefault("m", IntegerType, "8"), pDefault("codes", IntegerType, "16"),
        pDefault("iters", IntegerType, "3"), pDefault("id_col", StringType, "'vec_id'"),
        pDefault("vec_col", StringType, "'embedding'")),
      cols(nullable = false, "variant" -> StringType, "dim" -> IntegerType,
        "n_lists" -> IntegerType, "corpus_count" -> LongType)) { a =>
      val root = a.index
      val view = a.required(1, "view argument")
      val (nLists, m, codes, iters) = (a.int(3, 8), a.int(4, 8), a.int(5, 16), a.int(6, 3))
      require(nLists > 0 && m > 0 && codes > 1 && iters > 0,
        s"ann_build: n_lists/m/iters must be positive and codes > 1, " +
          s"got ($nLists, $m, $codes, $iters)")
      val (idCol, vecCol) = (a.str(7, "vec_id"), a.str(8, "embedding"))
      val corpus = a.spark.table(view)
      val meta = a.str(2, "ivf") match {
        case "ivf" => AnnIndex.buildIvf(corpus, root, nLists, iters, idCol, vecCol)
        case "ivfpq" => AnnIndex.buildIvfPq(corpus, root, nLists, m, codes,
          iters, trainSample = 1.0, idCol, vecCol)
        case other => throw new IllegalArgumentException(
          s"ann_build: variant must be 'ivf' or 'ivfpq', got '$other'")
      }
      Seq(Row(meta.variant, meta.dim, meta.nLists, meta.corpusCount))
    },

    /** `CALL cat.system.ann_append(index => 'idx/docs', view => 'new_vectors')`
      * — admit newly-arrived vectors by quantizing them against the STORED
      * model of whichever variant the index holds (no retraining pass —
      * [[graft.operators.AnnIndex.append]]); the CDC half of the index
      * lifecycle, from SQL. Append-only ids; quantizer drift ⇒ periodic
      * `ann_build` rebuild (the operator's documented contract).
      */
    Proc("ann_append",
      "ann_append(index, view, id_col => 'vec_id', vec_col => 'embedding'): quantize " +
        "new vectors against the stored model and append them into the index's lists",
      Seq(p("index", StringType), p("view", StringType),
        pDefault("id_col", StringType, "'vec_id'"), pDefault("vec_col", StringType, "'embedding'")),
      cols(nullable = false, "variant" -> StringType, "corpus_count" -> LongType)) { a =>
      val meta = AnnIndex.append(a.spark, a.index,
        a.spark.table(a.required(1, "view argument")), a.str(2, "vec_id"),
        a.str(3, "embedding"))
      Seq(Row(meta.variant, meta.corpusCount))
    },

    /** `CALL cat.system.ann_topk(index => 'idx/docs', queries => 'probe_vecs',
      * k => 5, n_probe => 2 [, corpus => 'vectors'])` — search the persisted
      * index from SQL. The search is the engine's distributed path (probed
      * lists' files ONLY — partition pruning; IVF-PQ: ADC over m-byte codes,
      * exact re-rank by id-join against `corpus`, `refine <= 0` = the
      * self-sizing auto default); only the k×|queries| result rows reach the
      * driver, which is why both are bounded (at most 100,000 rows) — the
      * result is a LocalScan relation, and an unbounded top-k is a corpus
      * download wearing a hat. Ids surface as strings (the procedure serves
      * any id type the view carries). IVF-PQ needs `corpus` for the exact
      * re-rank: the index stores m-byte codes, not vectors — point lookups
      * into the primary store are the documented cost model.
      */
    Proc("ann_topk",
      "ann_topk(index, queries, k => 5, n_probe => 1, refine => 0, corpus => NULL, " +
        "id_col => 'vec_id', vec_col => 'embedding'): top-k cosine neighbors from a " +
        "persisted ANN index; probed lists' files only; ivfpq requires corpus (re-rank)",
      Seq(p("index", StringType), p("queries", StringType),
        pDefault("k", IntegerType, "5"), pDefault("n_probe", IntegerType, "1"),
        pDefault("refine", IntegerType, "0"), pDefault("corpus", StringType, "NULL"),
        pDefault("id_col", StringType, "'vec_id'"), pDefault("vec_col", StringType, "'embedding'")),
      cols(nullable = true, "query_id" -> StringType, "vec_id" -> StringType,
        "cosine" -> DoubleType, "rank" -> LongType)) { a =>
      val root = a.index
      val queries = a.spark.table(a.required(1, "queries argument"))
      val k = a.int(2, 5)
      require(k > 0 && k <= 1000,
        s"ann_topk: k must be in [1, 1000] (the result is a driver-side relation), got $k")
      val nProbe = a.int(3, 1)
      require(nProbe > 0, s"ann_topk: n_probe must be positive, got $nProbe")
      val refine = a.int(4, 0)
      val (idCol, vecCol) = (a.str(6, "vec_id"), a.str(7, "embedding"))
      val ranked = AnnIndex.readMeta(root).variant match {
        case "ivf" =>
          // loud, not silent: refine/corpus only exist for ivfpq's re-rank —
          // accepting them here would let a user believe they widened a
          // window that does not apply to this index
          require(refine == 0,
            s"ann_topk: refine => $refine is an ivfpq re-rank knob; this index " +
              "is ivf (full vectors, exact ranking — there is no refine window)")
          require(a.isNull(5),
            "ann_topk: corpus is only used for an ivfpq index's exact re-rank; " +
              "this index is ivf and carries its own full vectors")
          AnnIndex.searchIvf(a.spark, root, queries, k, nProbe, idCol, vecCol)
        case _ =>
          require(!a.isNull(5),
            "ann_topk: an ivfpq index needs corpus => <view> for the exact re-rank " +
              "(the index stores m-byte codes, not vectors)")
          AnnIndex.searchIvfPq(a.spark, root, a.spark.table(a.str(5)), queries, k,
            nProbe, refine, idCol, vecCol)
      }
      val maxRows = 100000
      val out = ranked
        .select(col("query_id").cast("string"), col("vec_id").cast("string"),
          col("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
        .limit(maxRows + 1)
        .collect()
      require(out.length <= maxRows,
        s"ann_topk: result exceeds $maxRows rows — bound the queries view or lower k")
      out.toSeq
    },

    /** `CALL cat.system.ann_maintain(index => 'idx/docs', table => 'convs')`
      * — catch the persisted index up to the lake table's CURRENT version and
      * stop: [[graft.streaming.AnnMaintenance.runAvailableNow]]'s Trigger
      * .AvailableNow run, from SQL — the scheduler-friendly shape (cron calls
      * `ann_maintain` the way it calls `compact`; a long-lived tail uses the
      * Scala `AnnMaintenance.start` surface). Exactly-once is the stream's
      * (feed offsets = table versions in the checkpoint × the index meta's
      * `lastBatchId`), so a re-CALL with no new commits is a no-op. The
      * checkpoint defaults to `<indexRoot>/checkpoint` — keep it if you
      * override: a NEW checkpoint with `starting_version => 'earliest'`
      * re-bootstraps the whole table as inserts into an index that already
      * holds it (`lastBatchId` only dedups batch ids within one checkpoint
      * lineage).
      */
    Proc("ann_maintain",
      "ann_maintain(index, table, checkpoint => <index>/checkpoint, starting_version " +
        "=> 'earliest', max_versions_per_trigger => 16, mutations => 'fail'|'skip'|" +
        "'apply', id_col => 'conv_id', vec_col => 'embedding'): catch the persisted " +
        "ANN index up to the lake table's current version via its change feed, then stop",
      Seq(p("index", StringType), p("table", StringType),
        pDefault("checkpoint", StringType, "NULL"),
        pDefault("starting_version", StringType, "'earliest'"),
        pDefault("max_versions_per_trigger", IntegerType, "16"),
        pDefault("mutations", StringType, "'fail'"),
        pDefault("id_col", StringType, "'conv_id'"), pDefault("vec_col", StringType, "'embedding'")),
      cols(nullable = false, "variant" -> StringType, "corpus_count" -> LongType,
        "table_version" -> LongType)) { a =>
      val root = a.index
      val table = a.table(1)
      val maxVersions = a.int(4, 16)
      require(maxVersions > 0,
        s"ann_maintain: max_versions_per_trigger must be positive, got $maxVersions")
      // capture the version BEFORE the catch-up runs: the stream fences at
      // least this high, so it is a sound "index contains everything through
      // v" guarantee — reading AFTER would report a concurrent writer's
      // commit the run never saw, telling a cron consumer the lag is zero
      // when it is not
      val guaranteedVersion = table.currentSnapshot().get.version
      graft.streaming.AnnMaintenance.runAvailableNow(a.spark, table.root, root,
        a.str(2, s"$root/checkpoint"), a.str(6, "conv_id"), a.str(7, "embedding"),
        a.str(3, "earliest"), maxVersions, a.str(5, "fail"))
      val meta = AnnIndex.readMeta(root)
      Seq(Row(meta.variant, meta.corpusCount, guaranteedVersion))
    })

  /** Procedure names, exposed under the `system` namespace. */
  val Names: Seq[String] = registry.map(_.name)

  /** @param name        procedure name (one of [[Names]])
    * @param resolveRoot  maps a `table` or `index` argument ("tbl" or
    *                     "ns.tbl", relative to the catalog base) to a
    *                     filesystem root
    */
  def apply(name: String, resolveRoot: String => String): UnboundProcedure =
    registry.find(_.name == name).map(new LakeProcedure(_, resolveRoot)).getOrElse(
      throw new UnsupportedOperationException(
        s"unknown lake procedure '$name'; available: ${Names.mkString(", ")}"))

  /** The one procedure class. Procedures have side effects or read session
    * views and index files, so none is deterministic; `bind` validates
    * nothing beyond what Spark already coerced (`parameters()` drives the
    * argument coercion). Result values reach Catalyst through one converter.
    */
  private final class LakeProcedure(proc: Proc, resolveRoot: String => String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = proc.name
    override def description(): String = proc.description
    override def parameters(): Array[ProcedureParameter] = proc.parameters.toArray
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val out = proc.body(new Args(proc.name, input, resolveRoot))
        .map(CatalystTypeConverters.convertToCatalyst(_).asInstanceOf[InternalRow])
      val scan: Scan = new LocalScan {
        override val readSchema: StructType = proc.result
        override val rows: Array[InternalRow] = out.toArray
        override def description(): String = s"LakeProcedure(${proc.name})"
      }
      java.util.List.of(scan).iterator()
    }
  }
}
