package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `CALL cat.system.ann_*` SQL surface: build / append / search a
  * persisted ANN index entirely through spark.sql. The procedures delegate
  * to the SAME [[graft.operators.AnnIndex]] entry points the Scala surface
  * uses (one implementation, two faces), so these tests pin the SQL
  * plumbing — argument coercion, view resolution, id stringification, the
  * bounded driver-side result — against the Scala path's answers, plus the
  * loud-failure contracts a SQL user hits first.
  */
class AnnProceduresSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val clustered: DataFrame = {
    val rows = for { cl <- 0 until 4; i <- 0 until 25 } yield {
      val id = (cl * 25 + i).toLong
      val v = Array.tabulate(16) { d =>
        val base = if (d / 4 == cl) 1.0f else 0.0f
        base + 0.05f * (((id * 31 + d * 7) % 11).toInt - 5)
      }
      (id, v)
    }
    rows.toDF("vec_id", "embedding").localCheckpoint(true)
  }

  private def catalogFor(base: String, name: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.table.LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
  }

  private def key(r: org.apache.spark.sql.Row) =
    (r.getAs[String]("query_id"), r.getAs[Long]("rank"), r.getAs[String]("vec_id"),
      r.getAs[Double]("cosine"))

  private def bruteKeys(queries: DataFrame): Set[(String, Long, String, Double)] =
    graft.operators.Similarity.bruteForceTopK(clustered, queries, k = 5)
      .select(col("query_id").cast("string"), col("vec_id").cast("string"),
        col("cosine"), col("rank"))
      .collect().map(key).toSet

  test("CALL ann_build + ann_topk (ivf, exhaustive probe) equals brute force") {
    val base = tmpDir("annproc-ivf")
    catalogFor(base, "apc1")
    clustered.createOrReplaceTempView("apc1_vectors")
    val queries = clustered.filter($"vec_id" % 25 === 0)
    queries.createOrReplaceTempView("apc1_queries")

    val built = spark.sql(
      """CALL apc1.system.ann_build(index => 'idx/v', view => 'apc1_vectors',
        |  variant => 'ivf', n_lists => 4, iters => 3)""".stripMargin).collect().head
    assert(built.getAs[String]("variant") == "ivf")
    assert(built.getAs[Int]("dim") == 16 && built.getAs[Long]("corpus_count") == 100L)
    assert(built.schema.toDDL == ProcedureSurface.results("ann_build"))
    // the index landed under the catalog base, table-style resolution
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(base, "idx/v/meta.json")))

    val got = spark.sql(
      """CALL apc1.system.ann_topk(index => 'idx/v', queries => 'apc1_queries',
        |  k => 5, n_probe => 4)""".stripMargin).collect().map(key).toSet
    assert(got == bruteKeys(queries))
    assert(spark.sql(
      "CALL apc1.system.ann_topk(index => 'idx/v', queries => 'apc1_queries')"
    ).schema.toDDL == ProcedureSurface.results("ann_topk"))
  }

  test("CALL ann_append admits new vectors; ivfpq search needs corpus and re-ranks exactly") {
    val base = tmpDir("annproc-pq")
    catalogFor(base, "apc2")
    clustered.createOrReplaceTempView("apc2_vectors")
    clustered.filter($"vec_id" % 3 =!= 0).createOrReplaceTempView("apc2_base")
    clustered.filter($"vec_id" % 3 === 0).createOrReplaceTempView("apc2_late")
    val queries = clustered.filter($"vec_id" % 25 === 0)
    queries.createOrReplaceTempView("apc2_queries")

    spark.sql(
      """CALL apc2.system.ann_build(index => 'idx/pq', view => 'apc2_base',
        |  variant => 'ivfpq', n_lists => 4, m => 8, codes => 16, iters => 2)""".stripMargin)
    val appended = spark.sql(
      """CALL apc2.system.ann_append(index => 'idx/pq', view => 'apc2_late')"""
    ).collect().head
    assert(appended.getAs[Long]("corpus_count") == 100L)
    assert(appended.schema.toDDL == ProcedureSurface.results("ann_append"))

    // an ivfpq index without corpus => loud failure, not a silent code-only answer
    val noCorpus = intercept[Exception] {
      spark.sql(
        """CALL apc2.system.ann_topk(index => 'idx/pq', queries => 'apc2_queries',
          |  k => 5, n_probe => 4)""".stripMargin).collect()
    }
    assert(noCorpus.getMessage.contains("corpus"))

    val got = spark.sql(
      """CALL apc2.system.ann_topk(index => 'idx/pq', queries => 'apc2_queries',
        |  k => 5, n_probe => 4, refine => 2147483647,
        |  corpus => 'apc2_vectors')""".stripMargin).collect().map(key).toSet
    assert(got == bruteKeys(queries))
  }

  test("loud contracts: unknown variant, unbounded k, missing index") {
    val base = tmpDir("annproc-err")
    catalogFor(base, "apc3")
    clustered.createOrReplaceTempView("apc3_vectors")

    val badVariant = intercept[Exception] {
      spark.sql(
        """CALL apc3.system.ann_build(index => 'idx/x', view => 'apc3_vectors',
          |  variant => 'hnsw')""".stripMargin).collect()
    }
    assert(badVariant.getMessage.contains("variant"))

    spark.sql(
      """CALL apc3.system.ann_build(index => 'idx/x', view => 'apc3_vectors',
        |  variant => 'ivf', n_lists => 4)""".stripMargin)
    val badK = intercept[Exception] {
      spark.sql(
        """CALL apc3.system.ann_topk(index => 'idx/x', queries => 'apc3_vectors',
          |  k => 100000)""".stripMargin).collect()
    }
    assert(badK.getMessage.contains("k must be in"))

    intercept[Exception] {
      spark.sql(
        """CALL apc3.system.ann_topk(index => 'idx/nowhere',
          |  queries => 'apc3_vectors')""".stripMargin).collect()
    }

    // ivfpq-only knobs against an ivf index fail loudly instead of being
    // silently dropped — a user who "widened the refine window" must learn
    // it does not exist on this index
    val badRefine = intercept[Exception] {
      spark.sql(
        """CALL apc3.system.ann_topk(index => 'idx/x', queries => 'apc3_vectors',
          |  k => 5, refine => 500)""".stripMargin).collect()
    }
    assert(badRefine.getMessage.contains("refine"))
    val badCorpus = intercept[Exception] {
      spark.sql(
        """CALL apc3.system.ann_topk(index => 'idx/x', queries => 'apc3_vectors',
          |  k => 5, corpus => 'apc3_vectors')""".stripMargin).collect()
    }
    assert(badCorpus.getMessage.contains("corpus"))
  }

  test("CALL ann_maintain catches the index up to the table; re-CALL is a no-op") {
    import graft.model.{ChangeEvent, Model}
    import Model.changeEventEncoder
    val base = tmpDir("annproc-maint")
    catalogFor(base, "apc4")

    def emb(df: DataFrame): DataFrame = df.withColumn("embedding", expr(
      "transform(sequence(0, 15), d -> " +
        "cast(pmod(hash(conv_id, d), 19) / 19.0 + 0.05 as float))"))
    def evs(ids: Range, t: String, seqBase: Long): Seq[ChangeEvent] =
      ids.map(i => ChangeEvent(f"c$i%04d", 0, "user", s"doc $i", None,
        java.sql.Timestamp.valueOf(t), "insert", seqBase + i))

    val table = new graft.table.LakeTable(s"$base/convs", numBuckets = 4)
    graft.operators.MergeApplier.applyBatch(spark, table,
      emb(spark.createDataset(evs(0 until 20, "2025-01-01 00:00:00", 0L)).toDF()),
      "w", 0L)
    val v0 = table.currentSnapshot().get.version
    table.read(spark).select($"conv_id", $"embedding")
      .createOrReplaceTempView("apc4_state")
    spark.sql(
      """CALL apc4.system.ann_build(index => 'idx/m', view => 'apc4_state',
        |  variant => 'ivf', n_lists => 4, id_col => 'conv_id')""".stripMargin)

    graft.operators.MergeApplier.applyBatch(spark, table,
      emb(spark.createDataset(evs(20 until 32, "2025-01-01 00:01:00", 100L)).toDF()),
      "w", 1L)
    val caught = spark.sql(
      s"""CALL apc4.system.ann_maintain(index => 'idx/m', table => 'convs',
         |  starting_version => '$v0')""".stripMargin).collect().head
    assert(caught.getAs[Long]("corpus_count") == 32L)
    assert(caught.schema.toDDL == ProcedureSurface.results("ann_maintain"))
    assert(caught.getAs[Long]("table_version") ==
      table.currentSnapshot().get.version)

    // maintained index answers exactly (exhaustive probe == brute force)
    val full = table.read(spark).select($"conv_id", $"embedding")
      .localCheckpoint(true)
    full.filter($"conv_id".isin("c0003", "c0027")).createOrReplaceTempView("apc4_q")
    val got = spark.sql(
      """CALL apc4.system.ann_topk(index => 'idx/m', queries => 'apc4_q',
        |  k => 5, n_probe => 4, id_col => 'conv_id')""".stripMargin)
      .collect().map(key).toSet
    val bf = graft.operators.Similarity
      .bruteForceTopK(full, full.filter($"conv_id".isin("c0003", "c0027")),
        k = 5, idCol = "conv_id")
      .select(col("query_id").cast("string"), col("vec_id").cast("string"),
        col("cosine"), col("rank")).collect().map(key).toSet
    assert(got == bf)

    // no new commits: the default checkpoint under the index root makes the
    // re-CALL exactly-once — nothing re-admitted
    val again = spark.sql(
      s"""CALL apc4.system.ann_maintain(index => 'idx/m', table => 'convs',
         |  starting_version => '$v0')""".stripMargin).collect().head
    assert(again.getAs[Long]("corpus_count") == 32L)
  }
}
