package graft.model

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Core data model of the CDC engine.
  *
  * A change event is one row of a binlog/WAL-style changelog over multi-turn
  * conversation transcripts, keyed by (conv_id, turn_idx):
  *   - `ts`  — event time; last-write-wins version (the reference's "version
  *     := source S3 key", /root/reference SpecialCases.java:218)
  *   - `op`  — CDC operation; the reference's `urn:recordStatus` obsolete
  *     marker → delete (SpecialCases.java:237-249)
  *   - `seq` — changelog sequence number, the LWW tie-break; unique per event
  *
  * `tool` (and any later metadata columns) arrive via ADDITIVE schema
  * evolution: old events simply lack the column (reference: mappings are
  * editable data, MappingManager.java:115-152).
  */
final case class ChangeEvent(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: java.sql.Timestamp,
    op: String, // insert | update | delete
    seq: Long)

/** A materialized transcript turn (the table's logical row). */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: java.sql.Timestamp,
    seq: Long)

object Model {
  val KeyCols: Seq[String] = Seq("conv_id", "turn_idx")
  val VersionCols: Seq[String] = Seq("ts", "seq")

  val OpInsert = "insert"
  val OpUpdate = "update"
  val OpDelete = "delete"

  /** [[OpDelete]] as a table row stores it. */
  private[graft] val DeleteOp = UTF8String.fromString(Model.OpDelete)

  /** Whether a table row is a tombstone: its `op` (at `opI`) is a delete. A
    * null op is a live row. The one tombstone test of every task-side pass.
    */
  def isDelete(r: InternalRow, opI: Int): Boolean =
    !r.isNullAt(opI) && r.getUTF8String(opI).equals(DeleteOp)

  /** The LWW version order, the one rule every fold applies: a version
    * `(ts, seq)` supersedes the incumbent `(curTs, curSeq)` iff it is
    * STRICTLY greater, ts first. Callers map a null ts or seq to
    * `Long.MinValue` (lowest), so a version with no event time never beats
    * one that has it. On a full tie the incumbent keeps its place. Primitive
    * longs only: this is the inner loop of every bucket fold.
    */
  def supersedes(ts: Long, seq: Long, curTs: Long, curSeq: Long): Boolean =
    ts > curTs || (ts == curTs && seq > curSeq)

  /** A typed event time as the micros the table stores; null is lowest. */
  def tsMicros(ts: java.sql.Timestamp): Long =
    if (ts == null) Long.MinValue
    else org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(ts)

  /** Canonical changelog schema (v1 = without `tool`; v2 adds it additively). */
  val changeEventSchemaV1: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("seq", LongType, nullable = false)))

  val changeEventSchema: StructType = StructType(
    changeEventSchemaV1.fields.patch(4, Seq(StructField("tool", StringType, nullable = true)), 0))

  implicit val changeEventEncoder: Encoder[ChangeEvent] = Encoders.product[ChangeEvent]
  implicit val turnEncoder: Encoder[Turn] = Encoders.product[Turn]

  /** Columns whose physical types the engine pins: the bucket/LWW fold reads
    * them positionally with fixed accessors (BucketLocal.keyIdx, the merge
    * fold), so they may never retype — not even "safely".
    */
  private val PinnedCols: Set[String] = (KeyCols ++ VersionCols :+ "op").toSet

  /** The safe widening lattice (Iceberg's evolution set): int32 → int64 and
    * float32 → float64. Safe because the parquet reader PROMOTES old files'
    * narrower physical values when read under the widened schema (verified
    * in SchemaWideningSpec) — no rewrite of existing data, exactly like
    * adding a column. Returns the common wider type, or None when the pair
    * is not width-compatible.
    */
  private def widened(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case _ if a == b => Some(a)
    case (IntegerType, LongType) | (LongType, IntegerType) => Some(LongType)
    case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
    case _ => None
  }

  /** Schema evolution: additive columns plus safe TYPE WIDENING.
    *   - a column only in `incoming` is appended (nullable);
    *   - a column in both with identical types is kept;
    *   - a column in both whose types differ only in WIDTH (int→long,
    *     float→double) resolves to the wider type — in either direction: a
    *     wider incoming batch widens the table (old files read promoted), a
    *     narrower incoming batch is cast up by [[alignToSchema]];
    *   - anything else (drops, string→int, …) is an error, and the key /
    *     version / op columns never retype at all (the fold's accessors pin
    *     them) — mirroring the reference's "mappings can add fields"
    *     evolution model with Iceberg's widening extension.
    */
  def mergeSchemas(current: StructType, incoming: StructType): StructType = {
    val incomingByName = incoming.fields.map(f => f.name -> f).toMap
    val currentNames = current.fields.map(_.name).toSet
    val kept = current.fields.map { cur =>
      incomingByName.get(cur.name) match {
        case None => cur
        case Some(inc) if inc.dataType == cur.dataType => cur
        case Some(inc) =>
          require(!PinnedCols.contains(cur.name),
            s"column '${cur.name}' is a key/version column and cannot retype: " +
              s"${cur.dataType} -> ${inc.dataType}")
          val w = widened(cur.dataType, inc.dataType).getOrElse(throw new IllegalArgumentException(
            s"non-additive schema change on '${cur.name}': ${cur.dataType} -> ${inc.dataType}"))
          cur.copy(dataType = w)
      }
    }
    val added = incoming.fields.filterNot(f => currentNames.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(kept ++ added)
  }

  /** Project `df` onto `schema`, filling absent columns with typed nulls.
    * Column order is normalized to the schema's order so unions and parquet
    * appends stay aligned.
    */
  def alignToSchema(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.columns.toSet
    val cols = schema.fields.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }
}
