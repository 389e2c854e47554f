package graft.changelog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic transcript changelog, derived from the driver-generated
  * `events` parquet table (TESTDATA.md) by pure, engine-agnostic SQL
  * expressions. The SAME derivation is expressed twice:
  *
  *   - [[fromEvents]] — Spark Column expressions (what the engine consumes)
  *   - [[DuckDbCte]]  — a DuckDB CTE string (what the driver's oracle runs)
  *
  * Every expression is chosen to evaluate bit-identically in both engines
  * (integer modulo, IEEE sqrt/floor, string concat, CASE) so the correctness
  * gate can hash-compare results.
  *
  * Shape (BASELINE.json input_hint): (conv_id string, turn_idx int, role
  * string, text string, tool string, ts timestamp) + CDC columns (op, seq).
  *
  * Skew: conv_id = floor(sqrt(event_id mod 1600)) yields 40 conversations
  * where conversation k receives (2k+1)/1600 of the events — conv_39 is ~79×
  * hotter than conv_0, a deliberate hot-conversation skew (the reference
  * balances the analogous dataset skew by round-robin interleave,
  * /root/reference assets/incremental-updates/lambda/etl-start.py:115-133).
  *
  * Out-of-order apply: `seq` is a modular permutation of event_id
  * ((event_id*7919) mod 999999999989 — a prime > 10^12 events, so seq stays
  * UNIQUE at any scale factor; 7919*event_id cannot overflow int64 below
  * ~10^15 events). Unique seq keeps (ts, seq) LWW ties impossible, so
  * max_by and the oracle's ROW_NUMBER agree deterministically. Reading the
  * changelog in `seq` order replays events out of `ts` order — exercising
  * cross-batch LWW.
  */
object Changelog {

  /** ~10% deletes, ~20% updates, rest inserts. */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    ev.select(
      concat(lit("conv_"),
        floor(sqrt((col("event_id") % 1600).cast("double"))).cast("int").cast("string"))
        .as("conv_id"),
      (col("event_id") % 25).cast("int").as("turn_idx"),
      when(col("event_type").isin("signup", "view"), lit("user"))
        .when(col("event_type").isin("click", "purchase"), lit("assistant"))
        .otherwise(lit("system")).as("role"),
      concat(col("event_type"), lit(" "), col("props")).as("text"),
      when(col("event_type") === "click", lit("browser"))
        .when(col("event_type") === "purchase", lit("payments"))
        .otherwise(lit(null).cast("string")).as("tool"),
      col("ts"),
      when(col("event_id") % 10 === 7, lit("delete"))
        .when((col("event_id") % 10).isin(5, 6), lit("update"))
        .otherwise(lit("insert")).as("op"),
      ((col("event_id") * 7919) % 999999999989L).as("seq"))
  }

  /** DuckDB mirror of [[fromEvents]] — prepend to every oracle query. */
  val DuckDbCte: String =
    """WITH changelog AS (
      |  SELECT
      |    'conv_' || CAST(CAST(FLOOR(SQRT(CAST(event_id % 1600 AS DOUBLE))) AS INT) AS VARCHAR) AS conv_id,
      |    CAST(event_id % 25 AS INT) AS turn_idx,
      |    CASE WHEN event_type IN ('signup','view') THEN 'user'
      |         WHEN event_type IN ('click','purchase') THEN 'assistant'
      |         ELSE 'system' END AS role,
      |    event_type || ' ' || props AS text,
      |    CASE WHEN event_type = 'click' THEN 'browser'
      |         WHEN event_type = 'purchase' THEN 'payments' END AS tool,
      |    ts,
      |    CASE WHEN event_id % 10 = 7 THEN 'delete'
      |         WHEN event_id % 10 IN (5,6) THEN 'update'
      |         ELSE 'insert' END AS op,
      |    (event_id * 7919) % 999999999989 AS seq
      |  FROM events)""".stripMargin

  /** [[DuckDbCte]] plus `lww`: each (conv_id, turn_idx) key's last-write-wins
    * winner (greatest `ts`, then greatest `seq`), delete winners included.
    * It is the fold every replay and table gate must reproduce.
    */
  val DuckDbLwwCte: String =
    DuckDbCte + """,
      |lww AS (
      |  SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
      |    ORDER BY ts DESC, seq DESC) AS rn FROM changelog) t
      |  WHERE rn = 1)""".stripMargin
}
