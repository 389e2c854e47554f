package graft

import graft.functions.Text
import org.apache.spark.sql.functions._

/** The native text-stat kernels (TextExprs.*Nat — the r06 quality-filter
  * hot-path optimization) must be VALUE-IDENTICAL to the original Column
  * formulations they replaced. Those formulations' values on the corpus
  * below are pinned in `text_stats_expected.tsv` (one line per corpus row:
  * tokenCount, meanTokenLen, punctRatio, alphaRatio, stopwordRatio; doubles
  * as `Double.toString`, which reads back exactly). The corpus is
  * hand-picked edge cases plus deterministic pseudo-random strings over a
  * whitespace/punct/digit/unicode alphabet.
  */
class TextNativeStatsSpec extends SparkSpecBase {
  import spark.implicits._

  private def corpus: Seq[String] = {
    val edges = Seq(
      null, "", " ", "   ", "\t", " \t ", "a", " a ", "a b", "a  b",
      "\ta", "a\t", "a\tb", "the", "THE", "The and of", "it IS that",
      "a\nbc\fd\re", "!!!", "a!b.c", "1 2 3", "...---",
      "héllo wörld", "日本語 テキスト", "mixed 日本 and ascii!",
      "the and", // NBSP is NOT regex \s — must stay one token
      "word " * 40, "the of to in and is it that for on with as at by or be",
      "S pUnCt:;@[`{~ mix")
    val rng = new scala.util.Random(20260822)
    val alphabet = "ab THE the\t\n.!?0189é中 ,;:~[]"
    val rand = (0 until 300).map { _ =>
      val len = rng.nextInt(80)
      (0 until len).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    }
    edges ++ rand
  }

  /** The pinned values per corpus row (the row's index first); None for a
    * null.
    */
  private def expected: Seq[Seq[Option[String]]] = {
    val src = scala.io.Source.fromResource("text_stats_expected.tsv", getClass.getClassLoader)
    try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t").toSeq)
      .map(_.map(v => if (v == "null") None else Some(v))).toSeq
    finally src.close()
  }

  test("native kernels equal the legacy Column formulations on every row") {
    val df = corpus.zipWithIndex.toDF("text", "i")
    val rows = df.select(
      col("i"),
      Text.tokenCount(col("text")),
      Text.meanTokenLen(col("text")),
      Text.punctRatio(col("text")),
      Text.alphaRatio(col("text")),
      Text.stopwordRatio(col("text"))).collect().sortBy(_.getInt(0))
    val want = expected
    assert(rows.length == corpus.length && want.length == corpus.length)
    rows.zip(want).foreach { case (r, pinned) =>
      assert(pinned.head.contains(r.getInt(0).toString), s"row ${r.getInt(0)} vs $pinned")
      val w = pinned.tail
      val t: String = corpus(r.getInt(0)) match { case null => "null"; case x => s"'$x'" }
      assert(r.isNullAt(1) == w.head.isEmpty, s"text=$t null-int")
      w.head.foreach(n => assert(r.getInt(1) == n.toInt, s"text=$t tokenCount"))
      (2 to 5).foreach { a =>
        assert(r.isNullAt(a) == w(a - 1).isEmpty, s"text=$t col#$a nullability")
        // exact double equality: both sides must be the SAME IEEE value,
        // or the hash-matched oracle gates would drift
        w(a - 1).foreach { v =>
          assert(java.lang.Double.compare(r.getDouble(a), v.toDouble) == 0,
            s"text=$t col#$a ${r.getDouble(a)} != pinned $v")
        }
      }
    }
  }

  test("composite quality columns stay unchanged through the native kernels") {
    val df = corpus.toDF("text")
    // quality_keep / fail_reasons / score compose every kernel; spot-pin a
    // few known values so a sign/threshold slip cannot hide in equivalence
    val out = df.select(
      Text.qualityKeep(col("text")).as("keep"),
      concat_ws(",", Text.qualityFailReasons(col("text"))).as("why"),
      Text.qualityScore(col("text")).as("q")).collect()
    assert(out.length == corpus.length)
    val longDoc = "the cat sat on the mat and it is that good for all of us " * 3
    val r = spark.createDataset(Seq(longDoc)).toDF("text")
      .select(Text.qualityKeep(col("text")), Text.tokenCount(col("text"))).head()
    assert(r.getBoolean(0))
    assert(r.getInt(1) == 15 * 3) // 15 words per repetition of the sentence
  }
}
