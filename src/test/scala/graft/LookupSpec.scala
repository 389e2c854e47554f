package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.{BucketLocal, MergeApplier}
import graft.table.LakeTable
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.io.api.Binary
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.graftbridge.DriverScan

import java.sql.Timestamp

/** Key-addressed lookups ([[LakeTable.lookupTurn]],
  * [[LakeTable.lookupConversation]]) against `Generator.oracleFold`, on the
  * table shapes a lookup meets: COW, delta-deep MOR, mixed stats/stat-less
  * manifests, and additive schema evolution. Small pruned sets read on the
  * driver with no Spark job and no broadcast; `autoBroadcastJoinThreshold`
  * -1 (or a bound below the pruned bytes) takes the Spark path, which must
  * return the same rows.
  */
class LookupSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def ev(conv: String, turn: Int, text: String, t: String, seq: Long,
      op: String = "update", tool: Option[String] = None) =
    ChangeEvent(conv, turn, "user", text, tool, Timestamp.valueOf(t), op, seq)

  private def events(n: Long, seed: Long): Seq[ChangeEvent] =
    Generator.events(spark, n, 12, 6, seed = seed).as[ChangeEvent].collect().toSeq

  /** A lookup row as a comparable tuple (the table schema minus `op`). */
  private def key(r: Row) = (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))
  private def rowTuple(r: Row) = (key(r), r.getAs[String]("role"), r.getAs[String]("text"),
    r.getAs[String]("tool"), r.getAs[Timestamp]("ts"), r.getAs[Long]("seq"))
  private def evTuple(e: ChangeEvent) = ((e.conv_id, e.turn_idx), e.role, e.text,
    e.tool.orNull, e.ts, e.seq)

  private def withThreshold[T](v: String)(f: => T): T = withConf(Threshold, Some(v))(f)

  /** Keys whose last event is a delete: present in the files, absent from
    * the oracle.
    */
  private def tombstoned(all: Seq[ChangeEvent]): Set[(String, Int)] =
    all.groupBy(e => (e.conv_id, e.turn_idx)).collect {
      case (k, es) if es.maxBy(e => (e.ts.getTime, e.seq)).op == Model.OpDelete => k
    }.toSet

  /** Every live key, every tombstoned key and an absent key through
    * lookupTurn, and every conversation (plus an absent one) through
    * lookupConversation, compared with the oracle.
    */
  private def checkOracle(t: LakeTable, all: Seq[ChangeEvent]): Unit = {
    val oracle = Generator.oracleFold(all)
    val dead = tombstoned(all)
    assert(dead.nonEmpty, "the history must tombstone at least one key")
    (oracle.keySet ++ dead + (("nope", 3))).foreach { case (c, turn) =>
      val got = t.lookupTurn(spark, c, turn).collect().map(rowTuple).toSeq
      assert(got == oracle.get((c, turn)).map(evTuple).toSeq, s"lookupTurn($c, $turn)")
    }
    (all.map(_.conv_id).distinct :+ "nope").foreach { c =>
      val got = t.lookupConversation(spark, c).collect().map(rowTuple).toSet
      assert(got == oracle.values.filter(_.conv_id == c).map(evTuple).toSet,
        s"lookupConversation($c)")
    }
  }

  /** The same rows on both paths, for a sample of keys. */
  private def checkSparkPath(t: LakeTable, all: Seq[ChangeEvent]): Unit = {
    val keys = (all.map(e => (e.conv_id, e.turn_idx)).distinct.take(12) :+ (("nope", 3))) ++
      tombstoned(all).take(2)
    def rows = keys.map { case (c, turn) =>
      t.lookupTurn(spark, c, turn).collect().map(rowTuple).toSet } ++
      all.map(_.conv_id).distinct.take(3).map(c =>
        t.lookupConversation(spark, c).collect().map(rowTuple).toSet)
    val driver = rows
    assert(withThreshold("-1")(rows) == driver)
    assert(withThreshold("1")(rows) == driver) // pruned bytes above the bound
  }

  /** Spark jobs started by `f` on this thread (job group of this call), via
    * a SparkListener; a marker job flushes the listener bus.
    */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"lookup-spec-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).filter(_ == group)
          .foreach(_ => seen.add(Option(e.properties.getProperty("spark.job.description"))
            .getOrElse("")))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "lookup")
      try {
        f
        sc.setJobDescription("marker")
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("marker"), "listener never saw the marker job")
      seen.size - 1
    } finally sc.removeSparkListener(l)
  }

  /** Broadcast variables created while `f` ran (ids are sequential). */
  private def broadcastsDuring(f: => Unit): Long = {
    val sc = spark.sparkContext
    val before = sc.broadcast(0)
    f
    val after = sc.broadcast(0)
    try after.id - before.id - 1 finally { before.destroy(); after.destroy() }
  }

  test("COW: lookups equal the oracle; tombstoned and absent keys read empty") {
    val t = new LakeTable(tmpDir("lk-cow"), numBuckets = 4)
    val all = events(900, seed = 61)
    all.grouped(300).zipWithIndex.foreach { case (b, i) =>
      MergeApplier.applyBatch(spark, t, spark.createDataset(b).toDF(), "w", i.toLong) }
    assert(!t.currentSnapshot().get.morDeltas)
    checkOracle(t, all)
    checkSparkPath(t, all)
  }

  test("delta-deep MOR: lookups fold the key's versions and equal the oracle") {
    val t = new LakeTable(tmpDir("lk-mor"), numBuckets = 4)
    val all = events(1200, seed = 62)
    val batches = all.grouped(200).toSeq
    MergeApplier.applyBatch(spark, t, spark.createDataset(batches.head).toDF(), "w", 0L)
    batches.zipWithIndex.drop(1).foreach { case (b, i) =>
      MergeApplier.applyBatch(spark, t, spark.createDataset(b).toDF(), "w", i.toLong, mode = "mor") }
    val s = t.currentSnapshot().get
    assert(s.morDeltas && t.deltaDepths(s).values.max >= 4)
    checkOracle(t, all)
    checkSparkPath(t, all)
  }

  test("mixed stats/stat-less table: lookups equal the oracle with and without file skipping") {
    val t = new LakeTable(tmpDir("lk-mixed"), numBuckets = 4)
    val all = events(800, seed = 63)
    val batches = all.grouped(200).toSeq
    MergeApplier.applyBatch(spark, t, spark.createDataset(batches.head).toDF(), "w", 0L)
    // engine writes carry stats: rewrite the base manifest stat-less
    locally {
      val s = t.currentSnapshot().get
      val legacy = t.writeManifest(s.version, t.resolveFiles(s).map { case (b, fs) =>
        b -> fs.map(_.copy(stats = None)) })
      t.commit(s.copy(version = s.version + 1, parentVersion = s.version,
        manifests = s.manifests.map(_.copy(path = legacy))))
    }
    batches.zipWithIndex.drop(1).foreach { case (b, i) =>
      MergeApplier.applyBatch(spark, t, spark.createDataset(b).toDF(), "w", i.toLong, mode = "mor") }
    val entries = t.resolveFiles(t.currentSnapshot().get).values.flatten
    assert(entries.exists(_.stats.isEmpty) && entries.exists(_.stats.nonEmpty))
    checkOracle(t, all)
    t.fileSkipping = false
    checkOracle(t, all)
    t.fileSkipping = true
    checkSparkPath(t, all)
  }

  test("schema-evolved table: a pre-tool file reads back tool = null") {
    val t = new LakeTable(tmpDir("lk-evolve"), numBuckets = 2)
    val v1 = (0 until 6).map(i => ev(s"c$i", 0, s"old$i", "2025-01-01 00:00:00", i, "insert"))
    MergeApplier.applyBatch(spark, t, spark.createDataset(v1).toDF().drop("tool"), "w", 0L)
    val preTool = t.resolveFiles(t.currentSnapshot().get).values.flatten.map(_.path).toSeq
    assert(preTool.forall(p => !spark.read.parquet(p).columns.contains("tool")))
    val v2 = Seq(
      ev("c1", 0, "new1", "2025-01-01 00:01:00", 10, tool = Some("search")),
      ev("c2", 0, null, "2025-01-01 00:01:01", 11, op = "delete"),
      ev("c7", 1, "fresh", "2025-01-01 00:01:02", 12, op = "insert", tool = Some("calc")))
    MergeApplier.applyBatch(spark, t, spark.createDataset(v2).toDF(), "w", 1L, mode = "mor")
    val all = v1 ++ v2
    checkOracle(t, all)
    checkSparkPath(t, all)
    // the untouched key lives only in a pre-tool file
    val c0 = t.lookupTurn(spark, "c0", 0).collect()
    assert(c0.length == 1 && c0.head.isNullAt(c0.head.fieldIndex("tool")))
    assert(t.lookupTurn(spark, "c1", 0).collect().map(_.getAs[String]("tool")).toSeq ==
      Seq("search"))
    assert(!t.lookupTurn(spark, "c0", 0).columns.contains("op"))
  }

  test("driver path: building and collecting a lookup start no Spark job and no broadcast") {
    val t = new LakeTable(tmpDir("lk-jobs"), numBuckets = 4)
    val all = events(600, seed = 64)
    MergeApplier.applyBatch(spark, t, spark.createDataset(all.take(300)).toDF(), "w", 0L)
    MergeApplier.applyBatch(spark, t, spark.createDataset(all.drop(300)).toDF(), "w", 1L, mode = "mor")
    val (c, turn) = Generator.oracleFold(all).keys.head
    t.lookupTurn(spark, c, turn).collect() // warm
    var got = 0
    var broadcasts = -1L
    val jobs = jobsDuring {
      broadcasts = broadcastsDuring {
        got = t.lookupTurn(spark, c, turn).collect().length
        got += t.lookupConversation(spark, c).collect().length
        t.lookupTurn(spark, "nope", 3).collect()
      }
    }
    assert(got > 1)
    assert(jobs == 0, s"$jobs jobs")
    assert(broadcasts == 0, s"$broadcasts broadcasts")
    // the Spark path does start jobs: the count above is not vacuous
    assert(withThreshold("-1")(jobsDuring(t.lookupTurn(spark, c, turn).collect())) > 0)
  }

  test("a lookup is pinned to the snapshot it was built on") {
    val t = new LakeTable(tmpDir("lk-pin"), numBuckets = 2)
    MergeApplier.applyBatch(spark, t, spark.createDataset(Seq(
      ev("a", 0, "v1", "2025-01-01 00:00:00", 1, "insert"))).toDF(), "w", 0L)
    val driver = t.lookupTurn(spark, "a", 0)
    val sparkPath = withThreshold("-1")(t.lookupTurn(spark, "a", 0))
    MergeApplier.applyBatch(spark, t, spark.createDataset(Seq(
      ev("a", 0, "v2", "2025-01-01 00:01:00", 2))).toDF(), "w", 1L)
    assert(driver.collect().map(_.getAs[String]("text")).toSeq == Seq("v1"))
    assert(sparkPath.collect().map(_.getAs[String]("text")).toSeq == Seq("v1"))
    assert(t.lookupTurn(spark, "a", 0).collect().map(_.getAs[String]("text")).toSeq == Seq("v2"))
  }

  test("the driver-side MOR fold equals BucketLocal.readFolded") {
    val t = new LakeTable(tmpDir("lk-fold"), numBuckets = 4)
    val all = events(1000, seed = 65)
    val batches = all.grouped(250).toSeq
    MergeApplier.applyBatch(spark, t, spark.createDataset(batches.head).toDF(), "w", 0L)
    batches.zipWithIndex.drop(1).foreach { case (b, i) =>
      MergeApplier.applyBatch(spark, t, spark.createDataset(b).toDF(), "w", i.toLong, mode = "mor") }
    val s = t.currentSnapshot().get
    val files = t.resolveFiles(s)
    val anyConv = FilterApi.notEq(FilterApi.binaryColumn("conv_id"), null: Binary)
    val onDriver = DriverScan.localDf(spark, s.schema, BucketLocal.foldFilesOnDriver(
      spark, s.schema, files, fold = true, anyConv, (_, _) => true)).collect().map(_.toSeq).toSet
    val inTasks = BucketLocal.readFolded(spark, s, files)
      .collect().map(_.toSeq).toSet
    assert(onDriver.size == all.map(e => (e.conv_id, e.turn_idx)).distinct.size)
    assert(onDriver == inTasks)
  }
}
