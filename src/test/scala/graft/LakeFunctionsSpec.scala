package graft

import graft.functions.Text
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The SQL curation surface: every [[graft.functions.Text]] scalar exposed
  * through [[graft.table.LakeCatalog]]'s FunctionCatalog must return
  * EXACTLY what the Scala Column API returns (the bound function evaluates
  * the same analyzer-resolved expression, so equality is by construction —
  * this spec pins it against drift), and the `bm25` procedure must match
  * the operator's DataFrame output.
  */
class LakeFunctionsSpec extends SparkSpecBase {

  private def catalogFor(name: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.table.LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.base", tmpDir(s"fncat-$name"))
  }

  /** A small adversarial corpus: clean English, Spanish/French/German/CJK,
    * junk punctuation, empties, nulls, PII, digit runs, long docs. */
  private lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog and it is a fine day for all of us"),
      (1L, "el rapido zorro marron salta sobre el perro con los que la"),
      (2L, "le chat est sur le toit avec les amis des montagnes"),
      (3L, "der hund ist mit der katze und die maus ist da"),
      (4L, "你好世界 this mixes han characters"),
      (5L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
      (6L, ""),
      (7L, null),
      (8L, "contact me at alice@example.com or +1 555 0123456 from 10.1.2.3 please"),
      (9L, "12345 67890 11111 22222 33333"),
      (10L, ("token " * 200).trim),
      (11L, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
      (12L, "  leading and trailing whitespace padded text here  "))
      .toDF("doc_id", "text")
  }

  test("every registered curation function: SQL-through-catalog == Column API") {
    catalogFor("fns")
    docs.createOrReplaceTempView("fn_docs")
    val cases: Seq[(String, Column => Column)] = Seq(
      "token_count" -> Text.tokenCount _,
      "token_count_bpeish" -> Text.tokenCountBpeish _,
      "punct_ratio" -> Text.punctRatio _,
      "alpha_ratio" -> Text.alphaRatio _,
      "stopword_ratio" -> Text.stopwordRatio _,
      "mean_token_len" -> Text.meanTokenLen _,
      "quality_score" -> Text.qualityScore _,
      "quality_keep" -> Text.qualityKeep _,
      "quality_fail_reasons" -> (Text.qualityFailReasons _),
      "lang_id" -> Text.langIdHeuristic _,
      "fingerprint" -> ((c: Column) => Text.fingerprint(c, 3)),
      "redact_pii" -> Text.redactPii _)
    cases.foreach { case (name, build) =>
      val viaSql = spark.sql(
        s"SELECT doc_id, fns.$name(text) AS v FROM fn_docs ORDER BY doc_id")
        .collect().map(_.toSeq).toSeq
      val viaCol = docs.select(col("doc_id"), build(col("text")).as("v"))
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(viaSql == viaCol, s"SQL/Column drift for $name")
    }
  }

  test("functions work inside WHERE and compose with builtins in one query") {
    catalogFor("fns2")
    docs.createOrReplaceTempView("fn_docs2")
    val kept = spark.sql(
      """SELECT doc_id, fns2.quality_score(text) AS q,
        |       concat_ws(',', fns2.quality_fail_reasons(text)) AS why
        |FROM fn_docs2 WHERE fns2.quality_keep(text)""".stripMargin)
      .collect()
    val expected = docs.filter(Text.qualityKeep(col("text")))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept.map(_.getLong(0)).toSet == expected)
    assert(kept.forall(r => r.getString(2).isEmpty && r.getDouble(1) > 0))
  }

  test("unknown function fails loudly; wrong arity/type fails loudly") {
    catalogFor("fns3")
    docs.createOrReplaceTempView("fn_docs3")
    intercept[Exception] {
      spark.sql("SELECT fns3.no_such_fn(text) FROM fn_docs3").collect()
    }
    val e = intercept[Exception] {
      spark.sql("SELECT fns3.token_count(text, text) FROM fn_docs3").collect()
    }
    assert(e.getMessage.contains("token_count"))
  }

  test("bm25 procedure: CALL result == TextRank.bm25 DataFrame result") {
    catalogFor("fns4")
    val corpus = {
      import spark.implicits._
      Seq(
        (1L, "merge the table with the query plan"),
        (2L, "query the merge state of the table table table"),
        (3L, "nothing relevant here at all"),
        (4L, "table scan and query pushdown and merge apply"),
        (5L, "the merge")).toDF("doc_id", "text")
    }
    corpus.createOrReplaceTempView("bm25_docs")
    val viaCall = spark.sql(
      "CALL fns4.system.bm25(view => 'bm25_docs', terms => 'table,query,merge', k => 10)")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val viaOp = graft.operators.TextRank.bm25(corpus, Seq("table", "query", "merge"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .collect().map(r => (r.getLong(0).toString, r.getDouble(1))).toSeq
    assert(viaCall == viaOp)
    // top-k truncation is a prefix of the full ranking
    val top2 = spark.sql(
      "CALL fns4.system.bm25(view => 'bm25_docs', terms => 'table,query,merge', k => 2)")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(top2 == viaOp.take(2))
    assert(spark.sql(
      "CALL fns4.system.bm25(view => 'bm25_docs', terms => 'table,query,merge', k => 2)"
    ).schema.toDDL == ProcedureSurface.results("bm25"))
    // unbounded k rejected
    val e = intercept[Exception] {
      spark.sql("CALL fns4.system.bm25(view => 'bm25_docs', terms => 'x', k => 1000001)")
        .collect()
    }
    assert(e.getMessage.contains("k must be in"))
  }
}
