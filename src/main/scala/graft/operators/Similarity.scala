package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), expression-only (codegen'd — no UDFs).
  *
  * Baseline: brute-force cosine top-k against a (small, broadcast) query set
  * — one pass over the corpus, no shuffle until the per-query top-k.
  *
  * Scale path: sign-random-projection LSH (SimHash for vectors): 8×
  * deterministic pseudo-random hyperplanes per band from seeded xxhash64 →
  * 8-bit bucket per band; candidates share a (band, bucket); exact cosine
  * re-ranks candidates. Corpus side is computed once (write it as a bucketed
  * table at 10^10 scale); query side probes only its buckets.
  */
object Similarity {

  /** Exact cosine similarity between two float-array columns, accumulated in
    * double, ascending index order (bit-reproducible across engines — the
    * DuckDB oracle computes the identical sequence of double ops). Native
    * codegen'd expression; the HOF formulation evaluated interpreted and
    * dominated the LSH verify stage.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.TextExprs.cosineSimCol(a, b)

  /** Brute-force top-k: every corpus row scored against every query (queries
    * broadcast), per-query window top-k. Deterministic tie-break on id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = Par.spread(corpus).select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 4).as("cosine"),
        col("rank"))
  }

  /** Sign-random-projection bucket keys: `bands` keys of `bitsPerBand`
    * Rademacher sign bits each (hash-derived ±1 hyperplanes preserve cosine
    * locality like Gaussian ones). Native codegen'd expression — the nested
    * higher-order-function formulation profiled 26+ s / 2000 vectors.
    */
  def srpKeys(vec: Column, bands: Int, bitsPerBand: Int, seed: Int = 42): Column =
    graft.functions.expressions.TextExprs.srpKeysCol(vec, bands, bitsPerBand, seed)

  /** LSH ANN top-k: candidates = corpus rows sharing ≥1 (band, bucket) with
    * the query, re-ranked by exact cosine. Returns ≤k rows per query (fewer
    * when recall misses — that's the ANN tradeoff; raise bands to trade
    * compute for recall).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      bands: Int = 8, bitsPerBand: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Candidates carry IDS ONLY through the band join and the distinct — a
    // vector colliding in m bands would otherwise shuffle its embedding
    // payload m times through the dedup. Vectors re-join exactly once per
    // surviving (query, candidate) pair (same shape as minhashLshPairs'
    // id-only cand).
    def keyed(df: DataFrame, id: String) =
      df.select(col(idCol).as(id),
          posexplode(srpKeys(col(vecCol), bands, bitsPerBand)).as(Seq("band", "bucket")))
    val cand = keyed(Par.spread(corpus), "vec_id").join(keyed(queries, "query_id"),
        Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    val cv = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    // No forced broadcast of qv: "queries are small" is the common case, not
    // a contract — corpus-vs-corpus kNN passes the whole corpus as queries,
    // and a broadcast() hint there OOMs the driver. AQE broadcasts at
    // runtime while qv actually fits; otherwise this stays a shuffle join.
    cand.join(cv, "vec_id") // shuffle join on id (corpus-sized side)
      .join(qv, "query_id")
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 4).as("cosine"),
        col("rank"))
  }

  /** Int8-quantized brute-force top-k with exact re-rank: score every
    * corpus row against every query over SYMMETRIC per-vector int8
    * quantization (1 byte/dim — 4× less scan bandwidth than float32 in the
    * O(corpus × queries) loop, integer dot products; the per-vector scale
    * cancels out of the cosine so no scale table rides along), keep the
    * `refine` best candidates per query, then re-rank EXACTLY (float cosine)
    * and emit top-k. Precision of the emitted scores is exact — quantization
    * only affects which candidates reach the re-rank, so recall is the one
    * approximate axis (measured in Bench at the production `refine`;
    * `refine` ≥ corpus size makes the path exhaustive and oracle-equal).
    * Same "queries are small, broadcast" contract as [[bruteForceTopK]] —
    * this is the same O(corpus × queries) shape, just cheaper per pair.
    * Candidates travel id-only through the top-`refine` window; float
    * payloads re-join once per surviving (query, candidate).
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      refine: Int = 64, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.expressions.TextExprs.{quantCosineCol, quantize8Col}
    val c8 = Par.spread(corpus)
      .select(col(idCol).as("vec_id"), quantize8Col(col(vecCol)).as("c8"))
    val q8 = queries.select(col(idCol).as("query_id"), quantize8Col(col(vecCol)).as("q8"))
    val qw = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("vec_id").asc)
    val cand = c8.join(broadcast(q8), col("query_id") =!= col("vec_id"))
      .withColumn("qcos", quantCosineCol(col("q8"), col("c8")))
      .withColumn("qrank", row_number().over(qw))
      .filter(col("qrank") <= refine)
      .select("query_id", "vec_id")
    val cv = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cand.join(cv, "vec_id")
      .join(qv, "query_id")
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 4).as("cosine"),
        col("rank"))
  }

  /** IVF (inverted-file) ANN: deterministic k-means-lite coarse quantizer.
    *
    * Scale design: centroids live in a (tiny) driver-local relation that is
    * BROADCAST to the assignment — the identical memory class to any
    * broadcast join side (the driver holds broadcast relations either way),
    * never expression literals, so the plan stays constant-size in nLists
    * (at nLists = 4096 × dim = 64 the broadcast is ~1 MB of data). Every
    * Lloyd step is a distributed aggregation over the corpus:
    *
    *   assign: map-only argmax over the broadcast centroid array (zero
    *           exchanges — see [[bestCid]]; the former join+groupBy form
    *           re-shuffled the corpus once per iteration)
    *   mean:   posexplode(vec) → groupBy(list, dim) avg → collect_list back
    *           into ordered arrays (one shuffle of nLists × dim rows)
    *
    * Index: each corpus vector's `list` id — at cluster scale the
    * partition/bucket key of the vector table, so probes prune files exactly
    * like the CDC buckets. Search: each query probes its `nProbe` nearest
    * lists; candidates re-rank by exact cosine.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nLists: Int = 16, nProbe: Int = 4, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = Par.spread(corpus).select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .localCheckpoint(true) // consumed by every Lloyd iteration + the index
    val centroids = trainIvfCentroids(c, nLists, iters)
    val indexed = assignListsCos(c, centroids, "vec_id", "cv")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    searchIvfCore(indexed, probeListsCos(q, centroids, nProbe), k)
  }

  /** Run the eager driver-side collects of a Lloyd loop WITHOUT adaptive
    * execution, restoring the session flag after. AQE materializes every
    * exchange as its own Spark job; a training collect is a fixed-shape
    * aggregation whose reduce side is k × dim rows — there is nothing to
    * adapt (no skew, nothing to coalesce below the session partition count),
    * so the extra per-exchange job is a pure scheduler round-trip, at any
    * scale. Plans and values are bit-identical; only the job count changes
    * (measured: 2 jobs → 1 per Lloyd iteration). The flag is session-wide,
    * not thread-local: while `f` runs, every other query on the same session
    * (from any thread) also plans with AQE off. It is restored in finally;
    * the lazily-returned frames plan at their own action time under the
    * caller's AQE setting.
    */
  private def withoutAqe[T](spark: org.apache.spark.sql.SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, old)
  }

  /** IVF coarse-quantizer training (deterministic k-means-lite over cosine)
    * — extracted so [[AnnIndex]] can persist the trained centroids. Input
    * `c` must be (vec_id, cv) and SHOULD be checkpointed (every Lloyd
    * iteration re-reads it). Returns (cid, centroid), nLists rows.
    */
  private[operators] def trainIvfCentroids(c: DataFrame, nLists: Int,
      iters: Int): DataFrame = withoutAqe(c.sparkSession) {
    // Deterministic seeding: rows with the nLists smallest xxhash64(id).
    // The centroid GENERATIONS are kept driver-local between iterations —
    // the exact bytes the assignment broadcast ships to every executor
    // anyway (nLists × dim floats), so this changes no memory class; it
    // deletes the per-iteration distributed checkpoint + broadcast-build
    // jobs (measured: each Lloyd iteration cost ~4 scheduler round-trips
    // for nLists rows of data). Every Lloyd step remains a distributed
    // aggregation over the corpus; only the k-row codebook transits the
    // driver, exactly like any broadcast relation.
    val spark = c.sparkSession
    val hw = Window.orderBy("h") // nLists rows only — single-partition is fine
    val initDf = c
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(nLists)
      .select((row_number().over(hw) - 1).as("cid"), col("cv").as("centroid"))
    val schema = initDf.schema
    var cents: Seq[org.apache.spark.sql.Row] = initDf.collect().toSeq
    def centroidsDf: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(cents: _*), schema)
    (0 until iters).foreach { _ =>
      // ONE exchange per iteration: the per-(cid, d) means come back as flat
      // rows and the centroid ARRAYS are assembled driver-side — the former
      // second groupBy (collect_list + array_sort into arrays) moved the
      // same bytes to the driver through one more exchange. Values are
      // identical: same avg groups, same double→float cast.
      val means = assignListsCos(c, centroidsDf, "vec_id", "cv")
        .select(col("list").as("cid"), posexplode(col("cv")).as(Seq("d", "x")))
        .groupBy("cid", "d").agg(avg(col("x")).as("m"))
        .collect().groupBy(_.getInt(0))
        .map { case (cid, rs) =>
          cid -> rs.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq }
      // empty lists keep their previous centroid (driver-side merge — the
      // relational form was a left join + coalesce over the same k rows)
      cents = cents.map(r => org.apache.spark.sql.Row(r.get(0),
        means.getOrElse(r.getInt(0), r.get(1))))
    }
    centroidsDf
  }

  /** The centroid table folded to ONE row carrying an array of
    * struct(cid, centroid) — the broadcast shape the map-only assignment
    * passes consume. Still a DataFrame broadcast (driver-side data, constant
    * plan size), exactly like the join form; sorting by cid keeps the array
    * deterministic. When the centroid frame is already driver-local (the
    * Lloyd loop keeps its generations local — see [[trainIvfCentroids]]),
    * the fold happens driver-side with NO Spark job; a stored/parquet
    * centroid table folds through a (tiny) distributed aggregation.
    */
  private def centsRow(centroids: DataFrame, cidCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val named = centroids.select(col(cidCol).as("cid"), col("centroid"))
    if (!centroids.isLocal)
      named.agg(array_sort(collect_list(
        struct(col("cid"), col("centroid")))).as("__cents"))
    else {
      val rows = named.collect().sortBy(_.getInt(0)) // collect on a local plan: no job
      val elemType = StructType(Seq(
        StructField("cid", IntegerType, nullable = false),
        StructField("centroid", named.schema("centroid").dataType)))
      val schema = StructType(Seq(StructField("__cents",
        ArrayType(elemType, containsNull = false), nullable = false)))
      centroids.sparkSession.createDataFrame(
        java.util.Arrays.asList(Row(rows.toSeq.map(r => Row(r.get(0), r.get(1))))),
        schema)
    }
  }

  /** Per-row argmax over a broadcast centroid array: `array_max` over
    * struct(score, cid) elements uses struct ordering — score first, larger
    * cid on ties — IDENTICAL to the previous `max(struct(s, cid))`
    * aggregation (including NaN-sorts-greatest), so assignments are
    * bit-equal. The win is structural (guide §2.4, remove shuffles
    * outright): the join+groupBy formulation re-shuffled the ENTIRE corpus
    * once per Lloyd iteration and once per encode pass just to compute a
    * per-row argmax; this form is map-only — zero exchanges — and keeps the
    * input's partitioning.
    */
  private def bestCid(cents: Column, v: Column, score: (Column, Column) => Column): Column =
    array_max(transform(cents, e =>
      struct(score(v, e.getField("centroid")).as("s"), e.getField("cid").as("cid"))))
      .getField("cid")

  /** Nearest-centroid assignment, map-only (see [[bestCid]]): one-row
    * broadcast of the centroid array, per-vector argmax expression.
    * Returns (id, v, list).
    */
  private[operators] def assignListsCos(vecs: DataFrame, centroids: DataFrame,
      id: String, v: String): DataFrame =
    vecs.crossJoin(broadcast(centsRow(centroids, "cid")))
      .select(col(id), col(v),
        bestCid(col("__cents"), col(v), cosine).as("list"))

  /** Query → its nProbe nearest lists by cosine (broadcast join + top-n
    * window). `q` must be (query_id, qv); returns (query_id, qv, list).
    */
  private[operators] def probeListsCos(q: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame = {
    val pw = Window.partitionBy("query_id")
      .orderBy(col("__sc").desc) // cos desc, tie → larger cid
    q.join(broadcast(centroids))
      .withColumn("__sc",
        struct(cosine(col("qv"), col("centroid")).as("s"), col("cid").as("cid")))
      .withColumn("__pn", row_number().over(pw))
      .filter(col("__pn") <= nProbe)
      .select(col("query_id"), col("qv"), col("cid").as("list"))
  }

  /** IVF search given an (already pruned, for the persisted path) indexed
    * corpus (vec_id, cv, list) and the probe assignment (query_id, qv,
    * list): exact-cosine re-rank of the probed lists' members.
    */
  private[operators] def searchIvfCore(indexed: DataFrame, probes: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    // probes is queries × nProbe rows — the side that fits (guide §3.1).
    // Broadcasting it is the only strategy that never shuffles the indexed
    // corpus (10^10 rows at scale); without the hint the checkpointed
    // probe relation's unknown stats planned a SortMergeJoin that
    // exchanged + sorted BOTH sides (measured: 2 exchanges + 2 sorts on
    // every search).
    indexed.join(broadcast(probes), Seq("list"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 4).as("cosine"),
        col("rank"))
  }

  /** Distributed Lloyd over KEYED vector groups: `rows` = (g, id, v) →
    * codebook (g, cid, centroid), k centroids per group, nearest-in-L2
    * assignment (the classic quantizer-training metric — [[ivfTopK]] keeps
    * its cosine coarse quantizer; this one serves [[ivfPqTopK]], which
    * trains every PQ subspace in ONE keyed loop instead of m sequential
    * ones). Same scale discipline as the IVF Lloyd: centroids broadcast,
    * never plan literals; every step a distributed aggregation; empty
    * cells keep their previous centroid; deterministic hash seeding.
    */
  private def trainCodebooksL2(rows: DataFrame, k: Int,
      iters: Int): DataFrame = withoutAqe(rows.sparkSession) {
    import graft.functions.expressions.TextExprs.l2SqCol
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = rows.sparkSession
    val gw = Window.partitionBy("g").orderBy("h")
    val initDf = rows.withColumn("h", xxhash64(col("g"), col("id")))
      .withColumn("rn", row_number().over(gw)).filter(col("rn") <= k)
      .select(col("g"), (col("rn") - 1).as("cid"), col("v").as("centroid"))
    val cbSchema = initDf.schema
    // Codebook generations are driver-local between iterations — the exact
    // bytes the per-group broadcast ships anyway (m groups × k codewords);
    // see [[trainIvfCentroids]] for why this deletes the per-iteration
    // checkpoint/broadcast-build jobs without changing any memory class.
    var cb: Seq[Row] = initDf.collect().toSeq
    def cbDf: DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(cb: _*), cbSchema)
    // map-only nearest-codeword assignment per group (see [[bestCid]]): the
    // per-g codeword arrays ride a broadcast of m grouped rows, built
    // driver-side from the local codebook; the old join+groupBy form
    // re-shuffled all (g, id) rows every iteration
    val centroidType = cbSchema("centroid").dataType
    val groupedSchema = StructType(Seq(
      StructField("g", IntegerType, nullable = false),
      StructField("__cents", ArrayType(StructType(Seq(
        StructField("cid", IntegerType, nullable = false),
        StructField("centroid", centroidType))), containsNull = false))))
    def groupedDf: DataFrame = {
      val byG = cb.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (g, rs) =>
        Row(g, rs.sortBy(_.getInt(1)).map(r => Row(r.getInt(1), r.get(2))))
      }
      spark.createDataFrame(java.util.Arrays.asList(byG: _*), groupedSchema)
    }
    def assign(r: DataFrame): DataFrame =
      r.join(broadcast(groupedDf), Seq("g"))
        .select(col("g"), col("id"), col("v"),
          bestCid(col("__cents"), col("v"),
            (a, b) => -l2SqCol(a, b)).as("cid"))
    (0 until iters).foreach { _ =>
      // ONE exchange per iteration — see [[trainIvfCentroids]]: flat
      // (g, cid, d, m) rows, arrays assembled driver-side, identical values
      val means = assign(rows)
        .select(col("g"), col("cid"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("g", "cid", "d").agg(avg(col("x")).as("m"))
        .collect().groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (k2, rs) =>
          k2 -> rs.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat).toSeq }
      // empty cells keep their previous centroid (driver-side merge)
      cb = cb.map(r => Row(r.get(0), r.get(1),
        means.getOrElse((r.getInt(0), r.getInt(1)), r.get(2))))
    }
    cbDf
  }

  /** IVF-PQ-style ANN (coarse inverted lists + product-quantized ADC
    * scoring + exact re-rank; Jégou/Douze/Schmid, "Product Quantization
    * for Nearest Neighbor Search", IEEE TPAMI 2011 — public algorithm) —
    * the fourth member of the classic family
    * (flat / LSH / IVF-flat / IVF-PQ):
    *
    *   train:  coarse L2 quantizer over full vectors (nLists cells) and a
    *           PQ codebook per SUBSPACE (dim/m dims × `codes` words), all
    *           subspaces in one keyed Lloyd loop
    *   index:  each vector → its list id + m one-byte codes; at cluster
    *           scale the index is m bytes/vector (the memory story) with
    *           the list id as the partition/bucket key (the probe story)
    *   search: each query probes its nProbe nearest lists; candidates are
    *           scored ASYMMETRICALLY — approx dot(q, v) = Σ_sub
    *           LUT[q, sub, code(v, sub)], where the LUT (queries × m ×
    *           codes dot products) is tiny and BROADCAST, so the scoring
    *           join never touches a float payload; the top-`refine` per
    *           query re-rank by EXACT cosine
    *
    * Emitted scores are exact (ADC only selects candidates), so as with
    * [[quantizedTopK]] recall is the one approximate axis: nProbe == nLists
    * with refine ≥ corpus is exhaustive and oracle-equal regardless of PQ
    * quality (it gates the train/encode/LUT/sum plumbing); the production
    * config's recall is measured in Bench.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nLists: Int = 8, nProbe: Int = 2, m: Int = 8, codes: Int = 16,
      refine: Int = 0, iters: Int = 2, trainSample: Double = 1.0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val model = buildPqModel(corpus, nLists, m, codes, iters, trainSample,
      idCol, vecCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    searchPqCore(model.encoded, probeListsL2(q, model.coarse, nProbe),
      model.cbs, model.c, q, k,
      nProbe, refine, model.m, model.dim / model.m, model.nLists, model.corpusCount)
  }

  /** A trained + encoded IVF-PQ model: coarse (list, centroid), per-subspace
    * codebooks (g, cid, centroid), the encoded corpus (vec_id, list, nv,
    * codes — wide shape, one codes-array row per vector = the stored index
    * shape), and the (vec_id, cv) corpus projection used by the exact
    * re-rank. [[AnnIndex]] persists exactly these three frames.
    */
  private[operators] final case class PqModel(coarse: DataFrame, cbs: DataFrame,
      encoded: DataFrame, c: DataFrame, dim: Int, m: Int, nLists: Int,
      corpusCount: Long)

  /** `refine` ≤ 0 means AUTO: sized from the EXPECTED probed-candidate count
    * (corpus × nProbe / nLists), because the measured failure mode of a
    * fixed small refine is a silent recall collapse on near-tie geometries —
    * a clustered corpus puts every true neighbor in the probed cell at
    * nearly identical ADC scores, so only refine ≈ candidate-count keeps
    * them (measured: 0.325 recall at refine=100 vs 0.975 at refine≈250 on
    * the clustered bench corpus). Bounded by [[AutoRefineCap]] — the exact
    * re-rank reads `refine` float vectors per query, so the cap is where PQ
    * keeps its bandwidth win; when the estimate exceeds the cap a LOUD
    * warning names the residual risk instead of silently under-delivering.
    */
  private[operators] val AutoRefineCap = 4096

  private[operators] def effectiveRefine(refine: Int, k: Int, nProbe: Int,
      nLists: Int, corpusCount: Long): Int =
    if (refine > 0) refine
    else {
      val est = math.ceil(corpusCount.toDouble * nProbe / nLists).toLong
      if (est > AutoRefineCap)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"ivfPq auto-refine capped at $AutoRefineCap but ~$est candidates " +
          "per query are probed; on near-tie (clustered) geometries recall " +
          "can collapse — raise `refine` toward the candidate count or " +
          "measure recall on a held-out query set")
      math.min(AutoRefineCap.toLong, math.max(4L * k, est)).toInt
    }

  private[operators] def buildPqModel(corpus: DataFrame,
      nLists: Int, m: Int, codes: Int, iters: Int, trainSample: Double,
      idCol: String, vecCol: String): PqModel = {
    // dim + corpusCount ride the checkpoint job via observe() (formerly a
    // separate aggregation job over the checkpointed rows)
    val dimObs = org.apache.spark.sql.Observation()
    val c = Par.spread(corpus).select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .observe(dimObs, max(size(col("cv"))).as("dim"), count(lit(1)).as("n"))
      .localCheckpoint(true)
    val dim = Option(dimObs.get("dim")).fold(0)(_.asInstanceOf[Int])
    require(dim > 0, s"buildPqModel: empty corpus (no non-empty '$vecCol' vector to quantize)")
    val corpusCount = dimObs.get("n").asInstanceOf[Long]
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(trainSample > 0.0 && trainSample <= 1.0, s"trainSample: $trainSample")
    val sub = dim / m
    // Quantizer TRAINING needs a statistically representative sample, not
    // the corpus: at 10^10 vectors train on a deterministic hash-sample
    // (the same md5-free xxhash fraction trick as Sampling) — seeding's
    // per-group hash ranking then sorts the sample, not the corpus. The
    // ENCODE pass below always covers every vector.
    val cTrain =
      if (trainSample >= 1.0) c
      else c.filter(pmod(xxhash64(col("vec_id")), lit(1000000L)) <
        lit((trainSample * 1000000L).toLong)).localCheckpoint(true)
    // coarse quantizer: one group "g = -1" reuses the keyed Lloyd. Both
    // codebooks come back as driver-local relations (broadcast memory
    // class) — no checkpoint needed, consumers re-broadcast the same rows.
    val coarse = trainCodebooksL2(
      cTrain.select(lit(-1).as("g"), col("vec_id").as("id"), col("cv").as("v")),
      nLists, iters).select(col("cid").as("list"), col("centroid"))
    // PQ codebooks: every subspace of the residual space in one keyed loop
    val cbs = trainCodebooksL2(
      subSlices(residualsAgainst(coarse, cTrain), "res", m, sub)
        .withColumnRenamed("vec_id", "id"),
      codes, iters)
    val encoded = encodePq(coarse, cbs, c, m, sub)
    PqModel(coarse, cbs, encoded, c, dim, m, nLists, corpusCount)
  }

  /** Per-subspace slices of `v`: (vec_id, sub g, subvector) — m rows per
    * vector.
    */
  private def subSlices(r: DataFrame, v: String, m: Int, sub: Int): DataFrame =
    r.select(col("vec_id"), posexplode(transform(sequence(lit(0), lit(m - 1)),
      s => slice(col(v), s * sub + 1, lit(sub)))).as(Seq("g", "v")))

  /** Coarse-assign (vec_id, cv) rows against an EXISTING quantizer `coarse`
    * (list, centroid) and emit their residuals: (vec_id, list, nv, res).
    *
    * RESIDUAL encoding (the paper's §IV practice, and not optional at any
    * scale with cluster structure): codebooks over raw vectors collapse a
    * whole coarse cell onto one codeword per subspace — every candidate in
    * a probed list then carries an IDENTICAL ADC score and the top-refine
    * degenerates to the tie-break (measured recall 0.10 on the clustered
    * corpus). Quantizing r = v − centroid(list(v)) spreads within-cell
    * differences across the code space; ADC adds the exact dot(q, c_list)
    * term back per probed list.
    *
    * Each vector also carries its EXACT norm (one float): ADC approximates
    * dot(q, v), but the operator's contract ranks by COSINE — within a
    * coarse cell the norm division reorders materially (center-dominated
    * dot vs noise-driven cosine), so the score is adc/‖v‖ (‖q‖ is constant
    * per query and cancels from the ranking).
    */
  private[operators] def residualsAgainst(coarse: DataFrame,
      r: DataFrame): DataFrame = {
    import graft.functions.expressions.TextExprs.{dotCol, l2SqCol}
    // Map-only (see [[bestCid]]): the winning struct carries the centroid
    // VECTOR as a third field, so the residual subtraction needs no second
    // centroid join — ordering is still decided by (s, list) alone (list is
    // unique), identical to the previous max(struct(s, list)) + re-join.
    // The old form shuffled every vector through a groupBy AND joined
    // coarse twice; this is zero exchanges per encode pass.
    val best = array_max(transform(col("__cents"), e =>
      struct((-l2SqCol(col("cv"), e.getField("centroid"))).as("s"),
        e.getField("cid").as("list"), e.getField("centroid").as("centroid"))))
    r.crossJoin(broadcast(centsRow(coarse, "list")))
      .withColumn("__best", best)
      .select(col("vec_id"), col("__best").getField("list").as("list"),
        sqrt(dotCol(col("cv"), col("cv"))).as("nv"),
        zip_with(col("cv"), col("__best").getField("centroid"),
          (a, b) => a - b).as("res"))
  }

  /** Encode (vec_id, cv) rows against an EXISTING model (coarse quantizer +
    * residual codebooks) — nearest codeword per subspace. Returns the WIDE
    * encoded frame (vec_id, list, nv, codes: array ordered by subspace),
    * i.e. the stored index shape directly. Serves both the build's
    * full-corpus encode pass and [[AnnIndex]]'s incremental append (new
    * vectors quantized against the STORED model — the standard IVF operating
    * shape: encode cheaply between periodic retrains).
    *
    * Map-only (guide §2.4): all m codes are computed in ONE expression over
    * the broadcast codebook array — the previous long-shape formulation
    * exploded m rows per vector, shuffled them through a per-subspace
    * argmax aggregation, joined the residual frame back on vec_id and then
    * needed a second groupBy to pivot the codes into the stored array. The
    * per-subspace argmax (`array_max` over struct(s, cid)) keeps the exact
    * max(struct(-l2, cid)) tie-break.
    */
  private[operators] def encodePq(coarse: DataFrame, cbs: DataFrame,
      c: DataFrame, m: Int, sub: Int): DataFrame = {
    import graft.functions.expressions.TextExprs.l2SqCol
    // fold the codebook to its one-row broadcast shape driver-side when it
    // is already driver-local (the Lloyd loop's generations are — see
    // [[centsRow]]); a distributed agg here cost one AQE stage job per
    // encode pass for m × codes rows
    val cbsRow: DataFrame =
      if (!cbs.isLocal)
        cbs.agg(array_sort(collect_list(
          struct(col("g"), col("cid"), col("centroid")))).as("__cbs"))
      else {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val rows = cbs.select(col("g"), col("cid"), col("centroid")).collect()
          .sortBy(r => (r.getInt(0), r.getInt(1))) // array_sort struct order
        val elemType = StructType(Seq(
          StructField("g", IntegerType, nullable = false),
          StructField("cid", IntegerType, nullable = false),
          StructField("centroid", cbs.schema("centroid").dataType)))
        val schema = StructType(Seq(StructField("__cbs",
          ArrayType(elemType, containsNull = false), nullable = false)))
        cbs.sparkSession.createDataFrame(
          java.util.Arrays.asList(Row(rows.toSeq.map(r =>
            Row(r.get(0), r.get(1), r.get(2))))), schema)
      }
    val codes = transform(sequence(lit(0), lit(m - 1)), s =>
      array_max(transform(
        filter(col("__cbs"), e => e.getField("g") === s),
        e => struct(
          (-l2SqCol(slice(col("res"), s * lit(sub) + 1, lit(sub)),
            e.getField("centroid"))).as("s"),
          e.getField("cid").as("cid"))))
        .getField("cid").cast("int"))
    residualsAgainst(coarse, c)
      .crossJoin(broadcast(cbsRow))
      .select(col("vec_id"), col("list"), col("nv"), codes.as("codes"))
  }

  /** Query → its nProbe nearest lists by L2-to-centroid (the coarse
    * quantizer's metric), each carrying the exact query·centroid dot term
    * the ADC score adds back per probed list. THE probe assignment for
    * IVF-PQ — [[searchPqCore]] consumes it, and [[AnnIndex.searchIvfPq]]
    * collects its distinct lists as the partition-pruning literal, so
    * pruning and scoring can never rank probes differently. Returns
    * (query_id, list, qc).
    */
  private[operators] def probeListsL2(q: DataFrame, coarse: DataFrame,
      nProbe: Int): DataFrame = {
    import graft.functions.expressions.TextExprs.{dotCol, l2SqCol}
    val pw = Window.partitionBy("query_id").orderBy(col("__sc").desc)
    q.join(broadcast(coarse))
      .withColumn("__sc",
        struct((-l2SqCol(col("qv"), col("centroid"))).as("s"), col("list").as("list")))
      .withColumn("qc", dotCol(col("qv"), col("centroid")))
      .withColumn("__pn", row_number().over(pw))
      .filter(col("__pn") <= nProbe)
      .select(col("query_id"), col("list"), col("qc"))
  }

  /** IVF-PQ search over an (already pruned, for the persisted path) encoded
    * corpus in the WIDE shape (vec_id, list, nv, codes), given the probe
    * assignment from [[probeListsL2]]: broadcast-LUT ADC scoring →
    * top-`refine` → exact cosine re-rank against `c` (vec_id, cv).
    * `refine` ≤ 0 = auto ([[effectiveRefine]]).
    */
  private[operators] def searchPqCore(encodedWide: DataFrame, probes: DataFrame,
      cbs: DataFrame, c: DataFrame, q: DataFrame, k: Int, nProbe: Int,
      refine: Int, m: Int, sub: Int, nLists: Int, corpusCount: Long): DataFrame = {
    import graft.functions.expressions.TextExprs.dotCol
    val eff = effectiveRefine(refine, k, nProbe, nLists, corpusCount)
    // the ADC scoring join consumes the long shape; the explode is map-side
    val encoded = encodedWide.select(col("vec_id"), col("list"), col("nv"),
      posexplode(col("codes")).as(Seq("g", "code")))
    def subRows(r: DataFrame, id: String, v: String): DataFrame =
      r.select(col(id), posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(col(v), s * sub + 1, lit(sub)))).as(Seq("g", "v")))
    // the broadcast ADC lookup table over residual codewords
    val lut = subRows(q, "query_id", "qv")
      .join(broadcast(cbs), Seq("g"))
      .select(col("query_id"), col("g"), col("cid").as("code"),
        dotCol(col("v"), col("centroid")).as("pd"))
    // ADC scoring: candidates (probed lists) × m code rows ⋈ broadcast LUT,
    // summed per (query, vec) — no float payload in the scoring join;
    // approx dot(q, v) = dot(q, c_list) + Σ_sub dot(q_sub, codeword_sub)
    val qw = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("vec_id").asc)
    // probes fits (queries × nProbe rows); broadcast keeps the encoded
    // corpus unshuffled — see [[searchIvfCore]]
    val cand = encoded.join(broadcast(probes), Seq("list"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "g", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      // zero-vector guard (quantCosine's convention): nv=0 would make the
      // ADC score NaN/Inf, which sorts ABOVE real candidates and crowds
      // genuine neighbors out of the refine window
      .agg((first(col("qc")) + sum(col("pd"))).as("__num"),
        first(col("nv")).as("__nv"))
      .withColumn("adc", when(col("__nv") > 0, col("__num") / col("__nv"))
        .otherwise(lit(Double.NegativeInfinity)))
      .withColumn("qrank", row_number().over(qw))
      .filter(col("qrank") <= eff)
      .select("query_id", "vec_id")
    // exact re-rank of the refined candidates: cand is ≤ refine × queries
    // rows — broadcast IT (and the query batch), so the corpus side is a
    // pure probe-side lookup and is never shuffled by vec_id. Without the
    // hint the local planner broadcast the CORPUS (small here), which at
    // scale inverts into shuffling 10^10 rows to meet a few thousand
    // candidates.
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    broadcast(cand).join(c, "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 4).as("cosine"),
        col("rank"))
  }

  /** Embedding near-duplicate pairs: all corpus pairs with cosine ≥ minCos,
    * found via SRP-LSH banding + exact verification (same precision-exact,
    * recall-approximate contract as Dedup.minhashLshPairs).
    */
  /** Exact near-dup pairs: blocked all-pairs cosine (the brute-force
    * baseline, like [[bruteForceTopK]] for ANN). O(n²) by definition — the
    * oracle-gated correctness reference; [[embeddingNearDupPairs]] is the
    * sub-quadratic scale path. NB: "near-exhaustive" SRP banding is NOT a
    * scale-safe substitute here — at a low threshold the per-band collision
    * rate is ~1/2, so 64×1 banding generates ~64× the all-pairs volume
    * (measured 162 s vs a few seconds at sf0.1).
    */
  def embeddingNearDupPairsExact(corpus: DataFrame, minCos: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = Par.spread(corpus).select(col(idCol).as("id"), col(vecCol).as("v"))
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(cosine(col("a.v"), col("b.v")), 4).as("cosine"))
      .filter(col("cosine") >= minCos)
  }

  /** Skew guard (same discipline as [[graft.operators.Dedup.minhashLshPairs]]):
    * a near-identical embedding flood (the vector-space face of boilerplate)
    * collides m vectors on one (band, bucket) → O(m²) candidates. Buckets
    * above `maxBucket` are dropped via a left_semi shuffle join — never a
    * forced driver broadcast (bucket stats grow with the corpus).
    */
  def embeddingNearDupPairs(corpus: DataFrame, minCos: Double = 0.95,
      bands: Int = 8, bitsPerBand: Int = 8, maxBucket: Int = 1000,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Id-only candidate pairs through the self-join + distinct (a pair
    // colliding in m bands must not shuffle its embedding payloads m times);
    // vectors re-join once per distinct pair for the exact verification.
    // Materialized once: bucket stats + both self-join sides would otherwise
    // re-evaluate the SRP projection expression 3×.
    val keyed = Par.spread(corpus).select(col(idCol).as("id"),
      posexplode(srpKeys(col(vecCol), bands, bitsPerBand)).as(Seq("band", "bucket")))
      .repartition(Par.keyedShufflePartitions(corpus.sparkSession),
        col("band"), col("bucket"))
      .localCheckpoint(true)
    // skew guard + canonical candidate pairs: Dedup.cappedBucketPairs
    val cand = Dedup.cappedBucketPairs(keyed, Seq("band", "bucket"), maxBucket)
    val e = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    cand
      .join(e.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("cosine", round(cosine(col("va"), col("vb")), 4))
      .filter(col("cosine") >= minCos)
      .select("id_a", "id_b", "cosine")
  }
}
