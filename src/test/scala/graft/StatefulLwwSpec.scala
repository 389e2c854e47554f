package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.streaming.StatefulLww
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

class StatefulLwwSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  test("stateful change feed: last emission per key equals the oracle fold") {
    val dir = tmpDir("slww-src")
    Generator.writeChangelog(spark, dir, 3000, numConvs = 12, turnsPerConv = 5,
      numFiles = 6, seed = 44)
    val stream = spark.readStream.schema(Model.changeEventSchema).parquet(dir)
      .as[ChangeEvent](Model.changeEventEncoder)
    val q = StatefulLww.changeFeed(stream)
      .writeStream.outputMode("append").format("memory").queryName("feed")
      .option("checkpointLocation", tmpDir("slww-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val all = Generator.events(spark, 3000, 12, 5, seed = 44)
      .as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }

    // the LAST emission per key (highest seq among emissions... emissions are
    // monotone in version per key, so max-(ts,seq) emission is the final one)
    val feed = spark.table("feed").collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("text"), r.getAs[Long]("seq"),
          r.getAs[java.sql.Timestamp]("ts"))))
    val last = feed.groupBy(_._1).map { case (k, es) =>
      k -> { val w = es.map(_._2).maxBy(v => (v._3.getTime, v._2)); (w._1, w._2) }
    }
    // keys whose final state is deleted never appear as final winners in the
    // oracle; the feed may contain their earlier (pre-delete) emissions, and
    // a key can end deleted after emitting — so compare on the oracle's keys.
    assert(oracle.keySet.subsetOf(last.keySet))
    oracle.foreach { case (k, v) => assert(last(k) == v, s"key $k") }
  }

  private val noTs = ChangeEvent("c1", 0, "user", "no-ts", None, null, Model.OpInsert, 5L)
  private val withTs = ChangeEvent("c1", 0, "user", "ts", None,
    Timestamp.valueOf("2025-01-01 00:00:00"), Model.OpUpdate, 1L)

  /** The texts the feed emits, in order, with one micro-batch per group. */
  private def emitted(name: String, batches: Seq[ChangeEvent]*): Seq[String] = {
    val src = MemoryStream[ChangeEvent](Model.changeEventEncoder, spark.sqlContext)
    val q = StatefulLww.changeFeed(src.toDS())
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation", tmpDir(s"$name-ckpt")).start()
    try batches.foreach { b => src.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(name).collect().map(_.getAs[String]("text")).toSeq
  }

  test("a null-ts event loses to a ts-bearing event of its key within one micro-batch") {
    // a null ts is the lowest version, as in the table fold
    assert(emitted("slww_null_one", Seq(noTs, withTs)) == Seq("ts"))
    assert(emitted("slww_null_one_rev", Seq(withTs, noTs)) == Seq("ts"))
  }

  test("a null-ts event loses to a ts-bearing event of its key across two micro-batches") {
    assert(emitted("slww_null_two", Seq(noTs), Seq(withTs)) == Seq("no-ts", "ts"))
    assert(emitted("slww_null_two_rev", Seq(withTs), Seq(noTs)) == Seq("ts"))
  }
}
