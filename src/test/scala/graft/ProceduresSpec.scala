package graft

import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.LakeTable

import java.sql.Timestamp

/** The `CALL` surface as SQL sees it: every procedure's parameters (name,
  * SQL type, SQL default, in order) and the DDL of its result relation.
  */
object ProcedureSurface {
  val parameters: Seq[(String, Seq[String])] = Seq(
    "compact" -> Seq("table STRING", "buckets STRING = NULL", "text_index BOOLEAN = false"),
    "vacuum" -> Seq("table STRING", "keep_last INT = 1", "grace_ms BIGINT = 3600000"),
    "rollback" -> Seq("table STRING", "version BIGINT"),
    "rebucket" -> Seq("table STRING", "num_buckets INT"),
    "tag" -> Seq("table STRING", "name STRING", "version BIGINT = NULL"),
    "drop_tag" -> Seq("table STRING", "name STRING"),
    "bm25" -> Seq("view STRING", "terms STRING", "id_col STRING = 'doc_id'",
      "text_col STRING = 'text'", "k INT = 100"),
    "ann_build" -> Seq("index STRING", "view STRING", "variant STRING = 'ivf'",
      "n_lists INT = 8", "m INT = 8", "codes INT = 16", "iters INT = 3",
      "id_col STRING = 'vec_id'", "vec_col STRING = 'embedding'"),
    "ann_append" -> Seq("index STRING", "view STRING", "id_col STRING = 'vec_id'",
      "vec_col STRING = 'embedding'"),
    "ann_topk" -> Seq("index STRING", "queries STRING", "k INT = 5", "n_probe INT = 1",
      "refine INT = 0", "corpus STRING = NULL", "id_col STRING = 'vec_id'",
      "vec_col STRING = 'embedding'"),
    "ann_maintain" -> Seq("index STRING", "table STRING", "checkpoint STRING = NULL",
      "starting_version STRING = 'earliest'", "max_versions_per_trigger INT = 16",
      "mutations STRING = 'fail'", "id_col STRING = 'conv_id'",
      "vec_col STRING = 'embedding'"))

  def describe(p: org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter): String =
    s"${p.name} ${p.dataType.sql}" + Option(p.defaultValue).fold("")(d => s" = ${d.getSql}")

  val results: Map[String, String] = Map(
    "compact" -> "rows_written BIGINT NOT NULL,version BIGINT NOT NULL,yielded BOOLEAN NOT NULL",
    "vacuum" -> "files_removed INT NOT NULL",
    "rollback" -> "restored_version BIGINT NOT NULL,new_version BIGINT NOT NULL",
    "rebucket" -> "num_buckets INT NOT NULL,version BIGINT NOT NULL",
    "tag" -> "name STRING NOT NULL,version BIGINT NOT NULL",
    "drop_tag" -> "existed BOOLEAN NOT NULL",
    "bm25" -> "id STRING,bm25 DOUBLE",
    "ann_build" ->
      "variant STRING NOT NULL,dim INT NOT NULL,n_lists INT NOT NULL,corpus_count BIGINT NOT NULL",
    "ann_append" -> "variant STRING NOT NULL,corpus_count BIGINT NOT NULL",
    "ann_topk" -> "query_id STRING,vec_id STRING,cosine DOUBLE,rank BIGINT",
    "ann_maintain" ->
      "variant STRING NOT NULL,corpus_count BIGINT NOT NULL,table_version BIGINT NOT NULL")
}

/** SQL maintenance procedures (`CALL cat.system.<proc>(...)`): the DSv2
  * ProcedureCatalog surface over the engine's own maintenance entry points.
  */
class ProceduresSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ts(s: String) = Timestamp.valueOf(s)
  private def ev(conv: String, turn: Int, text: String, t: String, op: String,
      seq: Long): ChangeEvent =
    ChangeEvent(conv, turn, "user", text, None, ts(t), op, seq)

  private def catalogFor(base: String, name: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.table.LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("compact: full pass folds MOR deltas; selective pass touches only targets") {
    val base = tmpDir("proc-compact")
    val root = s"$base/t"
    val table = new LakeTable(root, numBuckets = 4)
    MergeApplier.applyBatch(spark, table, spark.createDataset(
      (0 until 40).map(i => ev(s"c$i", 0, s"v$i", "2025-01-01 00:00:00", "insert", i.toLong))).toDF(), "w", 0L)
    MergeApplier.applyBatch(spark, table, spark.createDataset(
      (0 until 40).map(i => ev(s"c$i", 0, s"v$i'", "2025-01-01 00:01:00", "update", 100L + i))).toDF(), "w", 1L, mode = "mor")
    val before = rows(table.read(spark))
    assert(table.currentSnapshot().get.morDeltas, "fixture must carry deltas")
    catalogFor(base, "pc1")

    // selective pass on buckets {0,1}: those buckets' deltas fold, others keep theirs
    val sel = spark.sql("CALL pc1.system.compact('t', buckets => '0,1')").collect().head
    assert(sel.schema.toDDL == ProcedureSurface.results("compact"))
    assert(sel.getAs[Long]("rows_written") > 0 && !sel.getAs[Boolean]("yielded"))
    val afterSel = table.currentSnapshot().get
    val deltaBuckets = table.resolveFiles(afterSel).collect {
      case (b, fs) if fs.size > 1 => b }.toSet
    assert(!deltaBuckets.contains(0) && !deltaBuckets.contains(1),
      s"targets must be folded, still multi-file: $deltaBuckets")
    assert(deltaBuckets.nonEmpty, "non-target buckets must keep their deltas")
    assert(rows(table.read(spark)) == before)

    // full pass: no deltas remain anywhere
    val full = spark.sql("CALL pc1.system.compact(table => 't')").collect().head
    assert(full.getAs[Long]("rows_written") > 0)
    assert(full.schema.toDDL == ProcedureSurface.results("compact"))
    assert(!table.currentSnapshot().get.morDeltas)
    assert(rows(table.read(spark)) == before)
  }

  test("compact with text_index => true builds token blooms; searchText uses them") {
    val base = tmpDir("proc-tidx")
    val table = new LakeTable(s"$base/t", numBuckets = 2)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("a", 0, "alpha beta", "2025-01-01 00:00:00", "insert", 1L),
      ev("b", 1, "gamma delta", "2025-01-01 00:00:00", "insert", 2L))).toDF(), "w", 0L, mode = "mor")
    catalogFor(base, "pcti")
    val r = spark.sql("CALL pcti.system.compact('t', text_index => true)").collect().head
    assert(r.getAs[Long]("rows_written") == 2 && !r.getAs[Boolean]("yielded"))
    assert(r.schema.toDDL == ProcedureSurface.results("compact"))
    val entries = table.resolveFiles(table.currentSnapshot().get).values.flatten.toSeq
    assert(entries.nonEmpty && entries.forall(_.stats.exists(_.textBloom.nonEmpty)))
    assert(table.searchText(spark, "gamma").collect()
      .map(_.getAs[String]("conv_id")).toSeq == Seq("b"))
  }

  test("rollback, tag, drop_tag, vacuum via CALL") {
    val base = tmpDir("proc-admin")
    val root = s"$base/t"
    val table = new LakeTable(root, numBuckets = 4)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("a", 0, "v1", "2025-01-01 00:00:00", "insert", 1))).toDF(), "w", 0L)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("a", 0, "v2", "2025-01-01 00:01:00", "update", 2))).toDF(), "w", 1L)
    catalogFor(base, "pc2")
    val v1 = 1L

    // tag the current version (default arg), then an explicit older one
    val tagged = spark.sql("CALL pc2.system.tag('t', 'head')").collect().head
    assert(tagged.getAs[Long]("version") == table.currentSnapshot().get.version)
    assert(tagged.schema.toDDL == ProcedureSurface.results("tag"))
    spark.sql(s"CALL pc2.system.tag('t', 'first', version => $v1)")
    assert(table.tags() == Map("head" -> 2L, "first" -> v1))

    // rollback to v1: read equals time travel; new head version advances
    val rb = spark.sql(s"CALL pc2.system.rollback('t', $v1)").collect().head
    assert(rb.getAs[Long]("restored_version") == v1)
    assert(rb.schema.toDDL == ProcedureSurface.results("rollback"))
    assert(rb.getAs[Long]("new_version") > 2L)
    assert(rows(table.read(spark)) == rows(table.read(spark, asOfVersion = Some(v1))))

    // vacuum with zero grace: sweeps unreferenced files, reads stay intact
    val removed = spark.sql("CALL pc2.system.vacuum('t', keep_last => 1, grace_ms => 0)")
      .collect().head.getAs[Int]("files_removed")
    assert(removed >= 0)
    assert(rows(table.read(spark)).nonEmpty)

    // drop_tag reports prior existence
    assert(spark.sql("CALL pc2.system.drop_tag('t', 'first')").collect().head.getAs[Boolean]("existed"))
    assert(!spark.sql("CALL pc2.system.drop_tag('t', 'nope')").collect().head.getAs[Boolean]("existed"))
  }

  test("rebucket via CALL rewrites the physical layout; reads survive") {
    val base = tmpDir("proc-rebucket")
    val root = s"$base/t"
    val table = new LakeTable(root, numBuckets = 2)
    MergeApplier.applyBatch(spark, table, spark.createDataset(
      (0 until 30).map(i => ev(s"c$i", i % 3, s"v$i", "2025-01-01 00:00:00", "insert", i.toLong))).toDF(), "w", 0L)
    val before = rows(table.read(spark))
    catalogFor(base, "pc3")
    val out = spark.sql("CALL pc3.system.rebucket('t', 8)").collect().head
    assert(out.getAs[Int]("num_buckets") == 8)
    assert(out.schema.toDDL == ProcedureSurface.results("rebucket"))
    val resized = LakeTable.open(root)
    assert(resized.numBuckets == 8 && rows(resized.read(spark)) == before)
  }

  test("procedure discovery and failure modes") {
    val base = tmpDir("proc-meta")
    val root = s"$base/t"
    val table = new LakeTable(root, numBuckets = 2)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("a", 0, "v", "2025-01-01 00:00:00", "insert", 1))).toDF(), "w", 0L)
    catalogFor(base, "pc4")

    val listed = spark.sql("SHOW PROCEDURES IN pc4.system")
      .collect().map(_.getAs[String]("procedure_name")).toSet
    assert(graft.table.LakeProcedures.Names.toSet.subsetOf(listed), s"listed: $listed")
    // result relations of the calls the tests above only read a value from
    assert(spark.sql("CALL pc4.system.vacuum('t')").schema.toDDL ==
      ProcedureSurface.results("vacuum"))
    assert(spark.sql("CALL pc4.system.drop_tag('t', 'nope')").schema.toDDL ==
      ProcedureSurface.results("drop_tag"))

    intercept[Exception] { spark.sql("CALL pc4.system.no_such_proc('t')") }
    intercept[Exception] { spark.sql("CALL pc4.other.compact('t')") } // wrong namespace
    intercept[Exception] { spark.sql("CALL pc4.system.compact('missing')") } // no such table
    intercept[Exception] { spark.sql("CALL pc4.system.compact('t', buckets => '99')") } // out of range
  }

  test("every procedure's parameters are pinned: name, SQL type, SQL default, in order") {
    assert(graft.table.LakeProcedures.Names == ProcedureSurface.parameters.map(_._1))
    for ((name, params) <- ProcedureSurface.parameters) {
      val proc = graft.table.LakeProcedures(name, identity)
        .bind(new org.apache.spark.sql.types.StructType())
      assert(proc.name() == name)
      assert(proc.parameters().map(ProcedureSurface.describe(_)).toSeq == params, name)
    }
  }
}
