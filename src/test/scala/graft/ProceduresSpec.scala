package graft

import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.LakeTable

import java.sql.Timestamp

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
    spark.sql(s"CALL pc2.system.tag('t', 'first', version => $v1)")
    assert(table.tags() == Map("head" -> 2L, "first" -> v1))

    // rollback to v1: read equals time travel; new head version advances
    val rb = spark.sql(s"CALL pc2.system.rollback('t', $v1)").collect().head
    assert(rb.getAs[Long]("restored_version") == v1)
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

    intercept[Exception] { spark.sql("CALL pc4.system.no_such_proc('t')") }
    intercept[Exception] { spark.sql("CALL pc4.other.compact('t')") } // wrong namespace
    intercept[Exception] { spark.sql("CALL pc4.system.compact('missing')") } // no such table
    intercept[Exception] { spark.sql("CALL pc4.system.compact('t', buckets => '99')") } // out of range
  }
}
