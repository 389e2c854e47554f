package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.{ChangeFeed, MergeApplier}
import graft.table.LakeTable

/** Engine code orders conv_id by `UTF8String.binaryCompare`. Spark's
  * `UTF8String.compareTo` is the same order, but it checks the
  * `spark.testing` property and the `SPARK_TESTING` variable on every call
  * and throws when either is set; with the property set, every path that
  * orders keys must still run.
  */
class ByteOrderSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  test("applies, reads, lookups and the change feed never call UTF8String.compareTo") {
    val all = Generator.events(spark, 1500, numConvs = 12, turnsPerConv = 6, seed = 83)
      .as[ChangeEvent].collect().toSeq.sortBy(_.seq)
    val t = new LakeTable(tmpDir("byte-order"), numBuckets = 4)
    val old = Option(System.getProperty("spark.testing"))
    System.setProperty("spark.testing", "true")
    try {
      all.grouped(500).zipWithIndex.foreach { case (chunk, i) =>
        MergeApplier.applyBatch(spark, t, spark.createDataset(chunk).toDF(), "w", i.toLong)
      }
      val want = Generator.oracleFold(all).map { case (k, e) => k -> e.seq }
      // the hash fold and the sort fold (spillFoldBytes = 0) of every read
      Seq(2L << 30, 0L).foreach { spill =>
        withSpillFoldBytes(spill) {
          val got = t.read(spark).collect()
            .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
              r.getAs[Long]("seq")).toMap
          assert(got == want, s"spillFoldBytes=$spill")
          val ((c, turn), seq) = want.head
          assert(t.lookupTurn(spark, c, turn).collect().map(_.getAs[Long]("seq")).toSeq ==
            Seq(seq))
          assert(ChangeFeed.changesBetween(spark, t, 1L, t.currentSnapshot().get.version)
            .count() > 0L, s"spillFoldBytes=$spill")
        }
      }
    } finally old.fold(System.clearProperty("spark.testing"))(System.setProperty("spark.testing", _))
  }
}
