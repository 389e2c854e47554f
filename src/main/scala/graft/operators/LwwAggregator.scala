package graft.operators

import graft.model.{ChangeEvent, Model}
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed LWW as an `Aggregator` (SURVEY §2.11 — the reference's custom
  * Redis max-version aggregate, SpecialCases.java:221-227, as a first-class
  * Dataset UDAF): usable with `groupByKey(...).agg(LwwAggregator.latest)`
  * and in streaming `flatMapGroupsWithState` reducers.
  *
  * The DataFrame `max_by` path (Lww.latestByKeyAgg) remains the default —
  * this typed form exists for Dataset-API users and as the reduce function
  * of the stateful-streaming variant.
  */
object LwwAggregator extends Aggregator[ChangeEvent, ChangeEvent, ChangeEvent] {

  /** The later of the incumbent `cur` and `e` by [[Model.supersedes]], a
    * null ts lowest; on a full (ts, seq) tie `cur` stays.
    */
  def newer(cur: ChangeEvent, e: ChangeEvent): ChangeEvent =
    if (cur == null) e
    else if (e == null) cur
    else if (Model.supersedes(Model.tsMicros(e.ts), e.seq, Model.tsMicros(cur.ts), cur.seq)) e
    else cur

  override def zero: ChangeEvent = null
  override def reduce(buf: ChangeEvent, e: ChangeEvent): ChangeEvent = newer(buf, e)
  override def merge(a: ChangeEvent, b: ChangeEvent): ChangeEvent = newer(a, b)
  override def finish(r: ChangeEvent): ChangeEvent = r
  override def bufferEncoder: Encoder[ChangeEvent] = Encoders.product[ChangeEvent]
  override def outputEncoder: Encoder[ChangeEvent] = Encoders.product[ChangeEvent]

  /** The typed column: `ds.groupByKey(e => (e.conv_id, e.turn_idx)).agg(latest)`. */
  def latest: org.apache.spark.sql.TypedColumn[ChangeEvent, ChangeEvent] = toColumn
}
