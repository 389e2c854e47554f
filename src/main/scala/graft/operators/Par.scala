package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive input parallelism (optimization guide §2.5, "input skew:
  * one huge unsplittable file ... repartition immediately after the read").
  *
  * Compute-heavy scan-stage expressions (MinHash signatures, shingle
  * explosion, SRP projections, cosine kernels, PQ encoding) inherit the
  * SCAN's split count. A small or single-file input yields one split, so the
  * whole expression pass serializes on one core — measured on the sf0.1
  * corpus: the minhash signature pass ran 10 stages / 11 tasks and took 13 s
  * single-task where ~0.5 s of 32-way work exists. AQE cannot help (it only
  * coalesces, never splits, and the scan is pre-shuffle anyway).
  *
  * The guard is SIZE-derived, not a constant tuned to this host: we
  * repartition only when the input's optimizer-estimated bytes cannot fill
  * `defaultParallelism` scan splits of `spark.sql.files.maxPartitionBytes`
  * each — i.e. exactly the regime where the scan under-parallelizes. At
  * cluster scale (input ≥ cores × split size) this is a NO-OP: no shuffle is
  * added where the scan already parallelizes. The repartition is round-robin
  * with an explicit partition count, so AQE does not re-coalesce it; results
  * are unchanged (row order is not part of any operator's contract, and
  * sort-before-repartition keeps the assignment deterministic under retry).
  */
object Par {

  /** Estimated size in bytes of the frame's optimized plan (driver-side
    * planning only — never executes a stage; see guide §7.3 on keeping
    * driver work bounded).
    */
  private def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Repartition `df` up to the session's default parallelism iff its
    * estimated input size cannot fill that many scan splits. No-op at scale.
    */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val splitBytes = org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
    if (estimatedBytes(df) < BigInt(target) * splitBytes) df.repartition(target)
    else df
  }

  /** Partition count for an EXPLICIT keyed repartition that downstream
    * same-key operators (groupBy / semi-join / self-join) reuse without a
    * second exchange (guide §2.4, "two operations keyed the same way can
    * share one exchange"). The count is the session's shuffle-partition
    * setting — the user's scale knob for exactly this decision — floored at
    * the default parallelism so the explicit count never serializes a small
    * input (an explicit count also pins AQE from coalescing a compute-heavy
    * stage onto one core). Nothing here is tuned to this host: both inputs
    * are session-level knobs that a cluster deployment sizes to its data.
    */
  def keyedShufflePartitions(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism,
      org.apache.spark.sql.internal.SQLConf.get.numShufflePartitions)

  /** Run `f` with `kv` set on the session conf; each key gets its previous
    * value (or its absence) back afterwards, also when `f` throws. The
    * setting is session-wide, not thread-local: while `f` runs, every other
    * query on the same session plans under it too.
    */
  def withSessionConf[T](spark: org.apache.spark.sql.SparkSession,
      kv: Map[String, String])(f: => T): T = {
    // getAll holds only the keys set on the session; getOption would read a
    // registered key's default back as a value and pin it on restore
    val set = spark.conf.getAll
    val old = kv.keys.map(k => k -> set.get(k)).toMap
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
