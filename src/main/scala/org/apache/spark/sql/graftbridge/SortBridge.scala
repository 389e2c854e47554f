package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.execution.UnsafeExternalRowSorter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** Task-local SPILLING sort over InternalRows — SortExec's engine
  * (UnsafeExternalRowSorter over UnsafeExternalSorter: memory-managed pages
  * that spill to disk under pressure) detached from the physical-plan layer,
  * so any task — an RDD fold or a DataSource V2 `PartitionReader`, which
  * cannot splice a plan node into itself — can run the spill-safe LWW fold
  * on a bucket whose content outgrew the in-memory hash fold. Its one
  * caller is `BucketLocal.foldBucket`, the engine's task-side bucket fold.
  *
  * Memory lifecycle: `UnsafeExternalSorter.create` receives the live
  * TaskContext and registers its cleanup on task completion, and the sorted
  * iterator frees its pages on exhaustion or error — no leak on the partial
  * consumption a LIMIT-ed scan does.
  */
object SortBridge {

  /** Sort `rows` (of `schema`) by `sortCols` ascending, NULLS FIRST — the
    * exact order `BucketLocal.foldWinnersSorted` requires (nulls-first
    * mirrors the LWW `ver()`'s null → Long.MinValue). Must run inside a
    * Spark task (the sorter draws from the task's memory manager).
    *
    * The sort uses a CONSTANT prefix, so every comparison falls through to
    * the full record ordering — correct by construction; prefix pruning is
    * an optimization this degraded-mode path does not need.
    */
  def sortedAscNullsFirst(schema: StructType, sortCols: Seq[String],
      rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val order: Seq[SortOrder] = sortCols.map { c =>
      val i = schema.fieldIndex(c)
      SortOrder(BoundReference(i, schema(i).dataType, schema(i).nullable), Ascending)
    }
    val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
      private val result = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      override def computePrefix(row: InternalRow)
          : UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        result.isNull = false
        result.value = 0L
        result
      }
    }
    val sorter = UnsafeExternalRowSorter.create(
      schema, new LazilyGeneratedOrdering(order), PrefixComparators.LONG,
      prefixComputer, SparkEnv.get.memoryManager.pageSizeBytes,
      /* canUseRadixSort = */ false)
    // the projection's buffer reuse is safe: the sorter copies each row into
    // its own pages on insert (the SortExec contract)
    val proj = UnsafeProjection.create(schema)
    sorter.sort(rows.map(r => proj(r)): Iterator[UnsafeRow])
  }
}
