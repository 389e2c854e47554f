package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted ANN index: correctness at exhaustive config, PHYSICAL probe
  * pruning (unprobed lists' files are corrupted on disk and search still
  * answers exactly — they were never opened), and the auto-refine defense.
  * Lives in package graft.operators to reach the internals the proofs need
  * (probe assignment, effectiveRefine).
  */
class AnnIndexSpec extends SparkSpecBase {
  import spark.implicits._

  // 4 well-separated clusters × 25 vectors in 16 dims, deterministic noise —
  // cluster structure makes probes meaningful AND reproduces the near-tie
  // geometry of the measured IVF-PQ refine cliff.
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

  private def key(r: org.apache.spark.sql.Row) =
    (r.getAs[Long]("query_id"), r.getAs[Long]("rank"), r.getAs[Long]("vec_id"),
      r.getAs[Double]("cosine"))

  test("persisted IVF at exhaustive probe equals brute force") {
    val root = tmpDir("ann-ivf")
    val meta = AnnIndex.buildIvf(clustered, root, nLists = 4, iters = 3)
    assert(meta.corpusCount == 100L && meta.dim == 16)
    val queries = clustered.filter($"vec_id" % 25 === 0)
    val got = AnnIndex.searchIvf(spark, root, queries, k = 5, nProbe = 4)
      .collect().map(key).toSet
    val bf = Similarity.bruteForceTopK(clustered, queries, k = 5)
      .collect().map(key).toSet
    assert(got == bf)
  }

  test("IVF probe pruning is physical: unprobed lists' files never open") {
    val root = tmpDir("ann-prune")
    AnnIndex.buildIvf(clustered, root, nLists = 4, iters = 3)
    val queries = clustered.filter($"vec_id" === 0L)
    val before = AnnIndex.searchIvf(spark, root, queries, k = 5, nProbe = 1)
      .collect().map(key).toSet
    assert(before.nonEmpty)
    // the probed list for a corpus-member query at nProbe=1 IS its assigned
    // list (assignment and probing use the same argmax + tie-break)
    val meta = AnnIndex.readMeta(root)
    val probedList = spark.read.schema(meta.schema).parquet(s"$root/vectors")
      .filter($"vec_id" === 0L).select($"list".cast("int")).first().getInt(0)
    // corrupt every OTHER list's parquet files in place: any attempt to open
    // them now throws, so an exact repeat answer proves they were pruned
    val vecDir = java.nio.file.Paths.get(root, "vectors")
    val corrupted = java.nio.file.Files.list(vecDir).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.getFileName.toString.startsWith("list=") &&
        p.getFileName.toString != s"list=$probedList")
    assert(corrupted.size == 3)
    corrupted.foreach { dir =>
      java.nio.file.Files.list(dir).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.write(f,
          "not a parquet file".getBytes))
    }
    val after = AnnIndex.searchIvf(spark, root, queries, k = 5, nProbe = 1)
      .collect().map(key).toSet
    assert(after == before)
    // control: probing ALL lists must now fail — the corrupted files ARE
    // opened once the probe set includes them
    intercept[Exception] {
      AnnIndex.searchIvf(spark, root, queries, k = 5, nProbe = 4).collect()
    }
    // and the plan itself shows the partition filter reaching the scan
    val plan = AnnIndex.searchIvf(spark, root, queries, k = 5, nProbe = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list"),
      s"expected a partition filter on list:\n$plan")
  }

  test("persisted IVF-PQ at exhaustive probe+refine equals brute force") {
    val root = tmpDir("ann-ivfpq")
    val meta = AnnIndex.buildIvfPq(clustered, root, nLists = 4, m = 8,
      codes = 16, iters = 2)
    assert(meta.variant == "ivfpq" && meta.m == 8)
    val queries = clustered.filter($"vec_id" % 25 === 0)
    val got = AnnIndex.searchIvfPq(spark, root, clustered, queries, k = 5,
      nProbe = 4, refine = Int.MaxValue).collect().map(key).toSet
    val bf = Similarity.bruteForceTopK(clustered, queries, k = 5)
      .collect().map(key).toSet
    assert(got == bf)
  }

  test("IVF-PQ pruning is physical too, and auto-refine holds recall at the probe ceiling") {
    val root = tmpDir("ann-ivfpq-prune")
    AnnIndex.buildIvfPq(clustered, root, nLists = 4, m = 8, codes = 16,
      iters = 2)
    val queries = clustered.filter($"vec_id" === 0L)
    // auto refine (refine = 0 default): est = 100 * 1 / 4 = 25 candidates →
    // refine 25 ≥ probed candidates, so recall vs the probed-exhaustive
    // answer must be 1.0 — the measured 0.325 cliff cannot happen silently
    val auto = AnnIndex.searchIvfPq(spark, root, clustered, queries, k = 5,
      nProbe = 1).collect().map(key).toSet
    val exhaustiveProbe1 = AnnIndex.searchIvfPq(spark, root, clustered,
      queries, k = 5, nProbe = 1, refine = Int.MaxValue).collect().map(key).toSet
    assert(auto == exhaustiveProbe1,
      "auto refine must reach the probe ceiling on the clustered corpus")
    // physical pruning: corrupt unprobed lists, repeat, exact same answer
    val meta = AnnIndex.readMeta(root)
    val probedList = spark.read.schema(meta.schema).parquet(s"$root/vectors")
      .filter($"vec_id" === 0L).select($"list".cast("int")).first().getInt(0)
    val vecDir = java.nio.file.Paths.get(root, "vectors")
    java.nio.file.Files.list(vecDir).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.getFileName.toString.startsWith("list=") &&
        p.getFileName.toString != s"list=$probedList")
      .foreach { dir =>
        java.nio.file.Files.list(dir).toArray.toSeq
          .map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => java.nio.file.Files.write(f, "garbage".getBytes))
      }
    val after = AnnIndex.searchIvfPq(spark, root, clustered, queries, k = 5,
      nProbe = 1).collect().map(key).toSet
    assert(after == auto)
  }

  test("IVF append: stored-centroid assignment, exact at exhaustive probe, corpusCount tracks") {
    val root = tmpDir("ann-ivf-append")
    val base = clustered.filter($"vec_id" % 3 =!= 0)
    val late = clustered.filter($"vec_id" % 3 === 0)
    val built = AnnIndex.buildIvf(base, root, nLists = 4, iters = 3)
    val appended = AnnIndex.append(spark, root, late)
    assert(built.corpusCount + late.count() == appended.corpusCount)
    assert(AnnIndex.readMeta(root).corpusCount == appended.corpusCount)
    // exhaustive probe ⇒ exact over base ∪ appended, regardless of how well
    // the stored centroids fit the late arrivals
    val queries = clustered.filter($"vec_id" % 25 === 0)
    val got = AnnIndex.searchIvf(spark, root, queries, k = 5, nProbe = 4)
      .collect().map(key).toSet
    val bf = Similarity.bruteForceTopK(clustered, queries, k = 5)
      .collect().map(key).toSet
    assert(got == bf)
  }

  test("IVF append keeps pruning physical: appended files join their list's directory") {
    val root = tmpDir("ann-ivf-append-prune")
    AnnIndex.buildIvf(clustered.filter($"vec_id" % 3 =!= 0), root,
      nLists = 4, iters = 3)
    AnnIndex.append(spark, root, clustered.filter($"vec_id" % 3 === 0))
    val queries = clustered.filter($"vec_id" === 0L)
    // k=20 > the 16 non-appended cluster-0 candidates, so a correct append
    // FORCES appended ids into the result — the searchability proof can't
    // pass vacuously
    val before = AnnIndex.searchIvf(spark, root, queries, k = 20, nProbe = 1)
      .collect().map(key).toSet
    val meta = AnnIndex.readMeta(root)
    val probedList = spark.read.schema(meta.schema).parquet(s"$root/vectors")
      .filter($"vec_id" === 0L).select($"list".cast("int")).first().getInt(0)
    val appendedInList = before.map(_._3).count(_ % 3 == 0)
    assert(appendedInList > 0,
      s"appended vectors must be searchable in the probed list: $before")
    // corrupt every other list's files — INCLUDING their appended parts —
    // and the answer must not change
    val vecDir = java.nio.file.Paths.get(root, "vectors")
    java.nio.file.Files.list(vecDir).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.getFileName.toString.startsWith("list=") &&
        p.getFileName.toString != s"list=$probedList")
      .foreach { dir =>
        java.nio.file.Files.list(dir).toArray.toSeq
          .map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => java.nio.file.Files.write(f, "garbage".getBytes))
      }
    val after = AnnIndex.searchIvf(spark, root, queries, k = 20, nProbe = 1)
      .collect().map(key).toSet
    assert(after == before)
  }

  test("IVF-PQ append: stored-model residual encode, exact at exhaustive probe+refine") {
    val root = tmpDir("ann-ivfpq-append")
    val base = clustered.filter($"vec_id" % 3 =!= 0)
    val late = clustered.filter($"vec_id" % 3 === 0)
    val built = AnnIndex.buildIvfPq(base, root, nLists = 4, m = 8,
      codes = 16, iters = 2)
    val appended = AnnIndex.append(spark, root, late)
    assert(built.corpusCount + late.count() == appended.corpusCount)
    val queries = clustered.filter($"vec_id" % 25 === 0)
    val got = AnnIndex.searchIvfPq(spark, root, clustered, queries, k = 5,
      nProbe = 4, refine = Int.MaxValue).collect().map(key).toSet
    val bf = Similarity.bruteForceTopK(clustered, queries, k = 5)
      .collect().map(key).toSet
    assert(got == bf)
  }

  test("append refuses dimension mismatches loudly") {
    val root = tmpDir("ann-append-guards")
    AnnIndex.buildIvf(clustered, root, nLists = 4, iters = 3)
    val wrongDim = Seq((1000L, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val eDim = intercept[IllegalArgumentException] {
      AnnIndex.append(spark, root, wrongDim)
    }
    assert(eDim.getMessage.contains("dimension"))
  }

  test("effectiveRefine: explicit wins; auto sized to candidates; capped with a floor of 4k") {
    assert(Similarity.effectiveRefine(100, k = 5, nProbe = 2, nLists = 8,
      corpusCount = 1000000L) == 100)
    // est = 1000 * 2 / 8 = 250 → auto = 250 (the measured-good shape)
    assert(Similarity.effectiveRefine(0, k = 5, nProbe = 2, nLists = 8,
      corpusCount = 1000L) == 250)
    // est tiny → floor at 4k
    assert(Similarity.effectiveRefine(0, k = 5, nProbe = 1, nLists = 100,
      corpusCount = 100L) == 20)
    // est huge → capped (and warns)
    assert(Similarity.effectiveRefine(0, k = 5, nProbe = 4, nLists = 8,
      corpusCount = 100000000L) == Similarity.AutoRefineCap)
  }

  private def vecOf(id: Long): Seq[Float] =
    clustered.filter($"vec_id" === id).select("embedding").first().getSeq[Float](0)

  test("applyChanges (ivf): update replaces across lists, delete vanishes, re-insert revives") {
    val root = tmpDir("ann-mut-ivf")
    AnnIndex.buildIvf(clustered, root, nLists = 4, iters = 3)
    // gen 1: update id 1 to a CLUSTER-2 vector (its replacement lands in a
    // DIFFERENT list than its dead gen-0 row — the cross-list LWW case),
    // delete ids 2 and 26, insert a new id 200
    val m1 = AnnIndex.applyChanges(spark, root, Seq(
      (1L, vecOf(51), "update"),
      (2L, null.asInstanceOf[Seq[Float]], "delete"),
      (26L, null.asInstanceOf[Seq[Float]], "delete"),
      (200L, vecOf(50), "insert")).toDF("vec_id", "embedding", "change_type"))
    assert(m1.gen == 1L && m1.corpusCount == 99L) // 100 + 1 ins − 2 del
    // gen 2: re-insert a deleted id with a third (cluster-3) vector — it
    // must outlive its own older tombstone
    val m2 = AnnIndex.applyChanges(spark, root,
      Seq((2L, vecOf(80), "insert")).toDF("vec_id", "embedding", "change_type"))
    assert(m2.gen == 2L && m2.corpusCount == 100L)

    val finalCorpus = clustered.filter(!$"vec_id".isin(1L, 2L, 26L))
      .unionByName(Seq((1L, vecOf(51)), (200L, vecOf(50)), (2L, vecOf(80)))
        .toDF("vec_id", "embedding"))
      .localCheckpoint(true)
    val queries = finalCorpus.filter($"vec_id".isin(0L, 1L, 2L, 200L))
    val got = AnnIndex.searchIvf(spark, root, queries, k = 5, nProbe = 4)
      .collect().map(key).toSet
    val bf = Similarity.bruteForceTopK(finalCorpus, queries, k = 5)
      .collect().map(key).toSet
    assert(got == bf)
    // the deleted-forever id must not surface even when k admits everyone
    val everyone = AnnIndex.searchIvf(spark, root,
      finalCorpus.filter($"vec_id" === 0L), k = 1000, nProbe = 4).collect()
    assert(everyone.length == finalCorpus.count() - 1) // all minus self
    assert(!everyone.exists(_.getAs[Long]("vec_id") == 26L))
    // and the updated id appears exactly once (its dead row stayed dead)
    assert(everyone.count(_.getAs[Long]("vec_id") == 1L) == 1)
  }

  test("applyChanges (ivfpq): same LWW semantics over the coded index") {
    val root = tmpDir("ann-mut-ivfpq")
    AnnIndex.buildIvfPq(clustered, root, nLists = 4, m = 8, codes = 16,
      iters = 2)
    AnnIndex.applyChanges(spark, root, Seq(
      (1L, vecOf(51), "update"),
      (26L, null.asInstanceOf[Seq[Float]], "delete"))
      .toDF("vec_id", "embedding", "change_type"))
    val finalCorpus = clustered.filter(!$"vec_id".isin(1L, 26L))
      .unionByName(Seq((1L, vecOf(51))).toDF("vec_id", "embedding"))
      .localCheckpoint(true)
    // the ivfpq re-rank joins the PRIMARY store — hand it the final state,
    // exactly what a consistent pipeline serves
    val queries = finalCorpus.filter($"vec_id".isin(0L, 1L, 75L))
    val got = AnnIndex.searchIvfPq(spark, root, finalCorpus, queries, k = 5,
      nProbe = 4, refine = Int.MaxValue).collect().map(key).toSet
    val bf = Similarity.bruteForceTopK(finalCorpus, queries, k = 5)
      .collect().map(key).toSet
    assert(got == bf)
  }

  test("applyChanges guards: unknown change type fails loudly; no tombstones ⇒ no filter cost") {
    val root = tmpDir("ann-mut-guards")
    AnnIndex.buildIvf(clustered, root, nLists = 4, iters = 3)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.applyChanges(spark, root,
        Seq((1L, vecOf(1), "upsert")).toDF("vec_id", "embedding", "change_type"))
    }
    assert(e.getMessage.contains("change type"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "tombstones")))
    // a NULL change type is just as invalid — `!isin` alone is NULL-silent
    // and would drop the row from both the tombstone and append filters
    val eNull = intercept[IllegalArgumentException] {
      AnnIndex.applyChanges(spark, root,
        Seq((1L, vecOf(1), null.asInstanceOf[String]))
          .toDF("vec_id", "embedding", "change_type"))
    }
    assert(eNull.getMessage.contains("change type"))
    // a dimension mismatch must fail BEFORE any tombstone lands: the batch
    // below tombstones id 1 (update) — if validation ran after the write,
    // id 1 would be silently hidden from every search until the next
    // mutation's rollback
    val eDim = intercept[IllegalArgumentException] {
      AnnIndex.applyChanges(spark, root, Seq(
        (1L, Seq(0.5f, 0.5f), "update"),
        (26L, null.asInstanceOf[Seq[Float]], "delete"))
        .toDF("vec_id", "embedding", "change_type"))
    }
    assert(eDim.getMessage.contains("dimension"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "tombstones")),
      "failed validation must not leave a half-applied generation")
    val stillThere = AnnIndex.searchIvf(spark, root,
      clustered.filter($"vec_id" === 0L), k = 1000, nProbe = 4).collect()
    assert(stillThere.exists(_.getAs[Long]("vec_id") == 1L) &&
      stillThere.exists(_.getAs[Long]("vec_id") == 26L))
    // pure-insert batches never create the tombstone dataset
    AnnIndex.applyChanges(spark, root,
      Seq((300L, vecOf(0), "insert")).toDF("vec_id", "embedding", "change_type"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "tombstones")))
  }

  test("in-place rebuild compacts tombstones away — mutated ids stay visible at gen 0") {
    val root = tmpDir("ann-mut-rebuild")
    AnnIndex.buildIvf(clustered, root, nLists = 4, iters = 3)
    // mutate: update id 1 (tombstone gen 1 + replacement), delete id 26
    AnnIndex.applyChanges(spark, root, Seq(
      (1L, vecOf(51), "update"),
      (26L, null.asInstanceOf[Seq[Float]], "delete"))
      .toDF("vec_id", "embedding", "change_type"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "tombstones")))
    // the periodic rebuild re-encodes the SURVIVING corpus in place. The
    // tombstones number the OLD generations; if they survived the gen→0
    // renumbering, the gen-1 tombstone for id 1 would outrank id 1's
    // rebuilt gen-0 row and hide exactly the ids that were ever updated.
    val surviving = clustered.filter($"vec_id" =!= 26L && $"vec_id" =!= 1L)
      .unionByName(Seq((1L, vecOf(51))).toDF("vec_id", "embedding"))
      .localCheckpoint(true)
    val m = AnnIndex.buildIvf(surviving, root, nLists = 4, iters = 3)
    assert(m.gen == 0L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "tombstones")))
    val everyone = AnnIndex.searchIvf(spark, root,
      surviving.filter($"vec_id" === 0L), k = 1000, nProbe = 4).collect()
    assert(everyone.count(_.getAs[Long]("vec_id") == 1L) == 1) // visible again
    assert(!everyone.exists(_.getAs[Long]("vec_id") == 26L))
    val got = AnnIndex.searchIvf(spark, root,
      surviving.filter($"vec_id".isin(0L, 1L)), k = 5, nProbe = 4)
      .collect().map(key).toSet
    val bf = Similarity.bruteForceTopK(surviving,
      surviving.filter($"vec_id".isin(0L, 1L)), k = 5)
      .collect().map(key).toSet
    assert(got == bf)
    // same closure for the coded index
    val rootPq = tmpDir("ann-mut-rebuild-pq")
    AnnIndex.buildIvfPq(clustered, rootPq, nLists = 4, m = 8, codes = 16,
      iters = 2)
    AnnIndex.applyChanges(spark, rootPq,
      Seq((1L, vecOf(51), "update")).toDF("vec_id", "embedding", "change_type"))
    AnnIndex.buildIvfPq(surviving, rootPq, nLists = 4, m = 8, codes = 16,
      iters = 2)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(rootPq, "tombstones")))
    val gotPq = AnnIndex.searchIvfPq(spark, rootPq, surviving,
      surviving.filter($"vec_id" === 1L), k = 5, nProbe = 4,
      refine = Int.MaxValue).collect().map(key).toSet
    val bfPq = Similarity.bruteForceTopK(surviving,
      surviving.filter($"vec_id" === 1L), k = 5).collect().map(key).toSet
    assert(gotPq == bfPq)
  }

  test("applyChanges rejects two changes for one id in one batch, loudly") {
    val root = tmpDir("ann-dup-id")
    AnnIndex.buildIvf(clustered, root, nLists = 4, iters = 3)
    val pre = AnnIndex.readMeta(root)
    // an update AND a delete for id 1 in one batch would tie on generation
    // (masked delete / duplicate live rows) — the contract is enforced, not
    // assumed, because a conv_id-keyed index over a (conv_id, turn_idx)
    // table hits exactly this through the change feed
    val e = intercept[IllegalArgumentException] {
      AnnIndex.applyChanges(spark, root, Seq(
        (1L, vecOf(51), "update"),
        (1L, null.asInstanceOf[Seq[Float]], "delete"),
        (7L, vecOf(52), "update"))
        .toDF("vec_id", "embedding", "change_type"))
    }
    assert(e.getMessage.contains("tie on") && e.getMessage.contains("1"))
    // rejected BEFORE any write: no tombstones, counters untouched
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "tombstones")))
    val m = AnnIndex.readMeta(root)
    assert(m.gen == pre.gen && m.corpusCount == pre.corpusCount)
  }

  test("null-vector changes: insert is a no-op, update degrades to delete — corpusCount stays exact") {
    val root = tmpDir("ann-null-vec")
    AnnIndex.buildIvf(clustered, root, nLists = 4, iters = 3)
    val m = AnnIndex.applyChanges(spark, root, Seq(
      (200L, null.asInstanceOf[Seq[Float]], "insert"), // embedding not yet computed upstream
      (2L, null.asInstanceOf[Seq[Float]], "update"),   // replacement without a vector = delete
      (201L, vecOf(50), "insert"),
      (26L, null.asInstanceOf[Seq[Float]], "delete"))
      .toDF("vec_id", "embedding", "change_type"))
    // 100 + 1 landed insert − 1 delete − 1 null update; the null insert
    // never landed so it must not inflate auto-refine's sizing input
    assert(m.corpusCount == 99L)
    val surviving = clustered.filter(!$"vec_id".isin(2L, 26L))
      .unionByName(Seq((201L, vecOf(50))).toDF("vec_id", "embedding"))
      .localCheckpoint(true)
    val everyone = AnnIndex.searchIvf(spark, root,
      surviving.filter($"vec_id" === 0L), k = 1000, nProbe = 4).collect()
    assert(everyone.length == surviving.count() - 1)
    assert(!everyone.exists(r => Set(2L, 26L, 200L)(r.getAs[Long]("vec_id"))))
    assert(everyone.count(_.getAs[Long]("vec_id") == 201L) == 1)
  }

  private def writeInflightByHand(root: String, preFiles: Set[String],
      preCorpusCount: Long, preGen: Long): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    node.put("preCorpusCount", preCorpusCount)
    node.put("preGen", preGen)
    val arr = node.putArray("preFiles")
    preFiles.toSeq.sorted.foreach(arr.add)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "apply_inflight.json"),
      om.writeValueAsBytes(node))
  }

  test("bare applyChanges is crash-safe: a torn attempt rolls back on retry — no double-admit") {
    val root = tmpDir("ann-torn-bare")
    AnnIndex.buildIvf(clustered, root, nLists = 4, iters = 3)
    val preFiles = AnnIndex.listIndexFiles(root)
    val pre = AnnIndex.readMeta(root)
    val batch = Seq((1L, vecOf(51), "update"), (200L, vecOf(50), "insert"))
      .toDF("vec_id", "embedding", "change_type").localCheckpoint(true)
    // simulate the worst crash window — files landed but meta never moved
    // (a retry would recompute the SAME gen and double-admit the update's
    // replacement): run the batch fully, then restore meta and re-arm the
    // inflight journal exactly as a kill before writeMeta leaves them
    AnnIndex.applyChanges(spark, root, batch)
    AnnIndex.writeMetaFor(root, pre)
    writeInflightByHand(root, preFiles, pre.corpusCount, pre.gen)
    // the retry must first roll the torn attempt back, then apply cleanly
    val m = AnnIndex.applyChanges(spark, root, batch)
    assert(m.gen == pre.gen + 1 && m.corpusCount == pre.corpusCount + 1)
    val stored = spark.read.schema(m.schema).parquet(s"$root/vectors")
    assert(stored.filter($"vec_id" === 1L).count() == 2L) // gen-0 dead + ONE replacement
    assert(stored.filter($"vec_id" === 200L).count() == 1L)
    val ts = spark.read.parquet(s"$root/tombstones")
    assert(ts.filter($"vec_id" === 1L).count() == 1L) // one tombstone, not two
    val surviving = clustered.filter($"vec_id" =!= 1L)
      .unionByName(Seq((1L, vecOf(51)), (200L, vecOf(50)))
        .toDF("vec_id", "embedding")).localCheckpoint(true)
    val everyone = AnnIndex.searchIvf(spark, root,
      surviving.filter($"vec_id" === 0L), k = 1000, nProbe = 4).collect()
    assert(everyone.count(_.getAs[Long]("vec_id") == 1L) == 1)
  }

  test("torn delete-only rollback prunes the emptied tombstones dir — the fast path survives") {
    val root = tmpDir("ann-torn-del")
    AnnIndex.buildIvf(clustered, root, nLists = 4, iters = 3)
    val preFiles = AnnIndex.listIndexFiles(root)
    val pre = AnnIndex.readMeta(root)
    AnnIndex.applyChanges(spark, root,
      Seq((26L, null.asInstanceOf[Seq[Float]], "delete"))
        .toDF("vec_id", "embedding", "change_type"))
    AnnIndex.writeMetaFor(root, pre)
    writeInflightByHand(root, preFiles, pre.corpusCount, pre.gen)
    // recovery runs at the NEXT mutation: an insert-only batch rolls the
    // torn delete back; the emptied tombstones/ husk must go with it or
    // every future search on this append-only index pays the tombstone
    // scan + join forever
    AnnIndex.applyChanges(spark, root,
      Seq((200L, vecOf(50), "insert")).toDF("vec_id", "embedding", "change_type"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "tombstones")))
    // the rolled-back delete never happened: id 26 is visible again
    val corpus = clustered.unionByName(
      Seq((200L, vecOf(50))).toDF("vec_id", "embedding")).localCheckpoint(true)
    val everyone = AnnIndex.searchIvf(spark, root,
      corpus.filter($"vec_id" === 0L), k = 1000, nProbe = 4).collect()
    assert(everyone.count(_.getAs[Long]("vec_id") == 26L) == 1)
    assert(everyone.count(_.getAs[Long]("vec_id") == 200L) == 1)
  }

  test("a bare applyChanges killed after its meta write stays committed; the next call drops the journal") {
    val root = tmpDir("ann-torn-committed")
    AnnIndex.buildIvf(clustered, root, nLists = 4, iters = 3)
    val preFiles = AnnIndex.listIndexFiles(root)
    val pre = AnnIndex.readMeta(root)
    // the kill lands between the meta write (the commit point) and the
    // journal delete: the batch is committed and its journal still armed
    val m1 = AnnIndex.applyChanges(spark, root,
      Seq((1L, vecOf(51), "update"), (200L, vecOf(50), "insert"))
        .toDF("vec_id", "embedding", "change_type"))
    writeInflightByHand(root, preFiles, pre.corpusCount, pre.gen)
    val m2 = AnnIndex.applyChanges(spark, root,
      Seq((201L, vecOf(52), "insert")).toDF("vec_id", "embedding", "change_type"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "apply_inflight.json")))
    assert(m1.gen == pre.gen + 1 && m1.corpusCount == pre.corpusCount + 1)
    assert(m2.gen == pre.gen + 2 && m2.corpusCount == pre.corpusCount + 2)
    assert(AnnIndex.readMeta(root) == m2)
    val stored = spark.read.schema(m2.schema).parquet(s"$root/vectors")
    assert(stored.filter($"vec_id" === 1L).count() == 2L) // gen-0 dead + its replacement
    assert(stored.filter($"vec_id".isin(200L, 201L)).count() == 2L)
    assert(spark.read.parquet(s"$root/tombstones").filter($"vec_id" === 1L).count() == 1L)
    val surviving = clustered.filter($"vec_id" =!= 1L)
      .unionByName(Seq((1L, vecOf(51)), (200L, vecOf(50)), (201L, vecOf(52)))
        .toDF("vec_id", "embedding")).localCheckpoint(true)
    val everyone = AnnIndex.searchIvf(spark, root,
      surviving.filter($"vec_id" === 0L), k = 1000, nProbe = 4).collect()
    assert(everyone.length == surviving.count() - 1)
    assert(everyone.count(r => Set(1L, 200L, 201L)(r.getAs[Long]("vec_id"))) == 3)
  }

  test("a torn meta temp file next to a good meta.json: readMeta, search and append succeed") {
    val root = tmpDir("ann-torn-meta-tmp")
    val built = AnnIndex.buildIvf(clustered.filter($"vec_id" % 3 =!= 0), root,
      nLists = 4, iters = 3)
    // a kill in the middle of a meta write leaves a truncated temp file
    // beside the previous, whole meta.json
    val tmp = java.nio.file.Paths.get(root, ".tmp-meta.json")
    val good = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(root, "meta.json"))
    java.nio.file.Files.write(tmp, java.util.Arrays.copyOf(good, good.length / 2))
    assert(AnnIndex.readMeta(root) == built)
    val queries = clustered.filter($"vec_id" % 25 === 0)
    val base = AnnIndex.searchIvf(spark, root, queries, k = 5, nProbe = 4)
      .collect().map(key).toSet
    assert(base == Similarity.bruteForceTopK(clustered.filter($"vec_id" % 3 =!= 0),
      queries, k = 5).collect().map(key).toSet)
    val m = AnnIndex.append(spark, root, clustered.filter($"vec_id" % 3 === 0))
    assert(m.corpusCount == 100L && m.gen == built.gen + 1)
    assert(AnnIndex.readMeta(root) == m)
    assert(!java.nio.file.Files.exists(tmp), "the append's meta write replaces the temp file")
    val got = AnnIndex.searchIvf(spark, root, queries, k = 5, nProbe = 4)
      .collect().map(key).toSet
    assert(got == Similarity.bruteForceTopK(clustered, queries, k = 5)
      .collect().map(key).toSet)
  }

  test("rebuild is stale-proof under a dynamic partitionOverwriteMode session") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try {
      val root = tmpDir("ann-dyn-rebuild")
      AnnIndex.buildIvf(clustered, root, nLists = 4, iters = 3)
      // retuned rebuild: fewer lists on half the corpus — under DYNAMIC
      // overwrite semantics the old list=2/list=3 directories would get no
      // new files and their rows (whole clusters of deleted vectors) would
      // resurrect silently
      val shrunk = clustered.filter($"vec_id" < 50L).localCheckpoint(true)
      val m = AnnIndex.buildIvf(shrunk, root, nLists = 2, iters = 3)
      val stored = spark.read.schema(m.schema).parquet(s"$root/vectors")
      assert(stored.count() == 50L, "stale pre-rebuild lists survived the overwrite")
      val everyone = AnnIndex.searchIvf(spark, root,
        shrunk.filter($"vec_id" === 0L), k = 1000, nProbe = 2).collect()
      assert(everyone.length == 49)
      assert(everyone.forall(_.getAs[Long]("vec_id") < 50L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("in-memory ivfPqTopK defaults to auto refine and stays well-formed") {
    val queries = clustered.filter($"vec_id" % 25 === 0)
    val out = Similarity.ivfPqTopK(clustered, queries, k = 5, nLists = 4,
      nProbe = 4, m = 8, codes = 16).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val ranks = rows.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks == (1L to ranks.length).toSeq)
    }
  }

  test("an empty corpus fails IVF and IVF-PQ builds with a named message, not dim = 0") {
    val empty = clustered.filter(lit(false))
    val zeroDim = clustered.select($"vec_id", array().cast("array<float>").as("embedding"))
    Seq(empty, zeroDim).foreach { corpus =>
      val ivf = intercept[IllegalArgumentException] {
        AnnIndex.buildIvf(corpus, tmpDir("ann-empty-ivf"), nLists = 4, iters = 1)
      }
      assert(ivf.getMessage.contains("buildIvf: empty corpus"), ivf.getMessage)
      val pq = intercept[IllegalArgumentException] {
        AnnIndex.buildIvfPq(corpus, tmpDir("ann-empty-pq"), nLists = 4, m = 8, codes = 16)
      }
      assert(pq.getMessage.contains("buildPqModel: empty corpus"), pq.getMessage)
    }
  }
}
