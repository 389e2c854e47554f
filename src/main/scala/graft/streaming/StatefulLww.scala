package graft.streaming

import graft.model.{ChangeEvent, Model, Turn}
import graft.operators.LwwAggregator
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful-streaming LWW (SURVEY §2.10 C6): the reference's Redis
  * max-version store (SpecialCases.java:106-108,221-233 — Lua CAS `max`)
  * re-expressed as `flatMapGroupsWithState` over the Spark state store
  * (HDFS-backed / RocksDB), keyed by (conv_id, turn_idx).
  *
  * Emits a change-feed of the CURRENT winner per key every time it changes
  * (an update-mode materialized view), handling:
  *   - out-of-order events: an older (ts, seq) never displaces the winner
  *   - deletes: tombstone retained in state so stale inserts cannot
  *     resurrect; nothing emitted downstream for a key while deleted
  *
  * Scale note: this variant keeps one state entry PER KEY — at 10^10 keys
  * that is a real state store footprint, which is exactly why the engine's
  * default MERGE path (MergeApplier) keeps LWW state in the TABLE instead
  * and stays stateless in streaming terms. This operator is for consumers
  * that need a low-latency change feed rather than a committed table.
  */
object StatefulLww {

  /** (winner event, deleted flag) kept per key. */
  final case class KeyState(e: ChangeEvent)

  def changeFeed(events: Dataset[ChangeEvent]): Dataset[Turn] = {
    implicit val turnEnc = Encoders.product[Turn]
    implicit val stateEnc = Encoders.product[KeyState]
    implicit val keyEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaInt)
    events
      .groupByKey(e => (e.conv_id, e.turn_idx))
      .flatMapGroupsWithState[KeyState, Turn](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, batch, state: GroupState[KeyState]) =>
          val incoming = batch.reduce(LwwAggregator.newer(_, _))
          val prev = state.getOption.map(_.e)
          val winner = prev.map(LwwAggregator.newer(_, incoming)).getOrElse(incoming)
          val changed = !prev.contains(winner)
          state.update(KeyState(winner))
          if (changed && winner.op != Model.OpDelete)
            Iterator(Turn(winner.conv_id, winner.turn_idx, winner.role,
              winner.text, winner.tool, winner.ts, winner.seq))
          else Iterator.empty
      }
  }
}
