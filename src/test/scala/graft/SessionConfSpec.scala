package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame

/** `Par.withSessionConf`, the one scoped session-conf setter: every key it
  * sets gets its previous value, or its absence, back — also when the body
  * throws. The IVF build runs its training under it (AQE off), so a build
  * must leave the caller's AQE setting as it found it. The specs' own
  * `SparkSpecBase.withConf` keeps the same contract.
  */
class SessionConfSpec extends SparkSpecBase {
  import spark.implicits._

  private val SetKey = "graft.test.sessionconf.set"
  private val UnsetKey = "graft.test.sessionconf.unset"
  private val Aqe = "spark.sql.adaptive.enabled"

  private def isSet(key: String): Boolean = spark.conf.getAll.contains(key)

  test("a set key gets its value back and an unset key is unset again") {
    spark.conf.set(SetKey, "before")
    spark.conf.unset(UnsetKey)
    val r = Par.withSessionConf(spark, Map(SetKey -> "inside", UnsetKey -> "inside")) {
      (spark.conf.get(SetKey), spark.conf.get(UnsetKey))
    }
    assert(r == (("inside", "inside")))
    assert(spark.conf.get(SetKey) == "before")
    assert(!isSet(UnsetKey))
    spark.conf.unset(SetKey)
  }

  test("the previous settings come back when the body throws") {
    spark.conf.set(SetKey, "before")
    spark.conf.unset(UnsetKey)
    val e = intercept[IllegalStateException] {
      Par.withSessionConf(spark, Map(SetKey -> "inside", UnsetKey -> "inside")) {
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(spark.conf.get(SetKey) == "before")
    assert(!isSet(UnsetKey))
    spark.conf.unset(SetKey)
  }

  test("the specs' withConf leaves an unset registered key unset") {
    withConf(Aqe, None) {
      withConf(Aqe, Some("false"))(assert(spark.conf.get(Aqe) == "false"))
      assert(!isSet(Aqe))
    }
  }

  test("an IVF build leaves spark.sql.adaptive.enabled as it found it") {
    val corpus: DataFrame = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(4)(d => if (d == i % 4) 1.0f else 0.1f * (i % 3)))
    }.toDF("vec_id", "embedding")
    def build(): Unit =
      AnnIndex.buildIvf(corpus, tmpDir("sessionconf-ivf"), nLists = 2, iters = 2)
    withConf(Aqe, None) {
      build()
      assert(!isSet(Aqe))
    }
    Seq("true", "false").foreach { v =>
      withConf(Aqe, Some(v)) {
        build()
        assert(spark.conf.get(Aqe) == v)
      }
    }
  }
}
