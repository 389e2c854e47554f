package graft.streaming

import graft.model.Model
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming aggregation utilities beyond the MERGE path (SURVEY §2.10 C7 —
  * the reference has no time windows; these are the Structured Streaming
  * operators a transcript-analytics consumer of the table would run).
  */
object WindowedStats {

  /** Tumbling event-time window counts per op, watermarked — late events
    * beyond the watermark are dropped from the aggregation (but NOT from the
    * MERGE path, which is order-independent by LWW).
    */
  def opCountsPerWindow(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("op"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct("conv_id").as("approx_convs"))

  final case class ConvSession(conv_id: String, turns: Long, firstTs: Long,
      lastTs: Long, closed: Boolean)

  /** Session windows over conversations via mapGroupsWithState: a session
    * closes after `gapMs` of event-time silence (C6 stateful-store surface —
    * the engine's MERGE path deliberately avoids this state store; this is
    * the API coverage for consumers needing sessionization).
    */
  def sessionize(events: Dataset[graft.model.ChangeEvent], gapMs: Long)(
      implicit e1: org.apache.spark.sql.Encoder[ConvSession]): Dataset[ConvSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.conv_id)
      .mapGroupsWithState[ConvSession, ConvSession](
        GroupStateTimeout.NoTimeout()) { case (conv, it, state: GroupState[ConvSession]) =>
        val evs = it.toSeq
        val lo = evs.map(_.ts.getTime).min
        val hi = evs.map(_.ts.getTime).max
        val prev = state.getOption
        val s = prev match {
          case Some(p) if lo - p.lastTs <= gapMs =>
            ConvSession(conv, p.turns + evs.size, p.firstTs, math.max(p.lastTs, hi), false)
          case Some(_) => ConvSession(conv, evs.size.toLong, lo, hi, false)
          case None => ConvSession(conv, evs.size.toLong, lo, hi, false)
        }
        state.update(s)
        s
      }
  }
}
