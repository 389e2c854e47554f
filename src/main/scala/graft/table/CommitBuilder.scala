package graft.table

import graft.model.Model
import org.apache.spark.sql.types.{DataType, StructType}

/** The idempotence-ledger entry a [[TableChange]] records:
  *   - `Batch`: writerId → batchId; a head already holding it makes the
  *     change [[CommitBuilder.AlreadyApplied]] (a replay, a split-brain twin)
  *   - `Next`: the writer's next batch id on the head it lands on (SQL
  *     statements, which carry no batch id of their own)
  *   - `Untracked`: nothing (maintenance); (name, id) only label the seam call
  */
sealed trait Ledger
object Ledger {
  final case class Batch(writerId: String, batchId: Long) extends Ledger
  final case class Next(writerId: String) extends Ledger
  final case class Untracked(name: String, id: Long) extends Ledger
}

/** What one write adds to a table, independent of the head it lands on.
  * `refs` are its manifests, written before the first CAS and appended to the
  * manifest list; `replaced` buckets leave every prior ref and lose their
  * stored-row counts before `rows` is added; `numBuckets` is a rebucket's new
  * bucket count.
  */
final case class TableChange(
    ledger: Ledger,
    schemaJson: String,
    refs: Seq[ManifestRef],
    replaced: Set[Int],
    rows: Map[Int, Long],
    metrics: Map[String, Long],
    numBuckets: Option[Int] = None)

/** The one commit path: every table write except rollback (which restores
  * the target's ledger and schema, not an additive change) builds its
  * snapshot with [[candidate]] and publishes it with [[commit]].
  */
object CommitBuilder {

  /** `Stale`: a concurrent commit invalidated the change by its rule. */
  sealed trait Result
  final case class Committed(snapshot: Snapshot) extends Result
  final case class AlreadyApplied(head: Snapshot) extends Result
  final case class Stale(head: Snapshot) extends Result

  /** How a lost CAS resolves; a rebase records `rebasedFrom`. `Rebase`:
    * always (delta appends commute with any commit under the LWW fold).
    * `RebaseIfUnchanged`: only if the head resolves `touched` to the base's
    * files. `Never`: rewrites of every target bucket (compaction, rebucket).
    */
  sealed trait OnConflict
  case object Rebase extends OnConflict
  final case class RebaseIfUnchanged(touched: Set[Int]) extends OnConflict
  case object Never extends OnConflict

  /** Test seam: runs once per [[commit]] call, after the write's files and
    * manifests exist and before the first CAS — inside the race window.
    * Args: the change's (writerId, batchId) — for [[Ledger.Next]] the base's
    * next id, for [[Ledger.Untracked]] its (name, id). No-op in production.
    */
  private[graft] var beforePublish: (String, Long) => Unit = (_, _) => ()

  /** The snapshot `change` makes of `on` (None: an empty table); `on` must
    * have the handle's bucket count, which the candidate declares.
    */
  def candidate(table: LakeTable, on: Option[Snapshot], change: TableChange,
      rebasedFrom: Option[Long] = None): Snapshot = {
    on.foreach(table.checkBuckets)
    val version = on.map(_.version).getOrElse(0L)
    val manifests = ManifestRef.replace(on.map(_.manifests).getOrElse(Seq.empty),
      change.replaced, change.refs)
    val committed = on.map(_.committed).getOrElse(Map.empty[String, Long])
    Snapshot(
      version = version + 1,
      schemaJson = on.filter(_.schemaJson != change.schemaJson)
        .map(h => Model.mergeSchemas(h.schema,
          DataType.fromJson(change.schemaJson).asInstanceOf[StructType]).json)
        .getOrElse(change.schemaJson),
      numBuckets = change.numBuckets.getOrElse(table.numBuckets),
      manifests = manifests,
      committed = change.ledger match {
        case Ledger.Batch(w, b) => committed + (w -> b)
        case Ledger.Next(w) => committed + (w -> (committed.getOrElse(w, -1L) + 1))
        case _: Ledger.Untracked => committed
      },
      bucketRows = change.rows.foldLeft(
          on.map(_.bucketRows).getOrElse(Map.empty[Int, Long]) -- change.replaced) {
        case (acc, (b, n)) => acc.updated(b, acc.getOrElse(b, 0L) + n)
      },
      metrics = change.metrics ++ rebasedFrom.map("rebasedFrom" -> _),
      parentVersion = version,
      morDeltas = manifests.exists(_.delta))
  }

  /** Publish `change`, built from `base`, as the next snapshot. A head past
    * the attempt's base is a lost race even if the CAS could win (vacuum can
    * free the slot after a tagged base): [[AlreadyApplied]] if its ledger
    * holds the change's batch; a failure if its bucket count is no longer
    * the base's; else a rebase or [[Stale]] by `onConflict`. The caller
    * cleans up after Stale.
    */
  def commit(table: LakeTable, base: Option[Snapshot], change: TableChange,
      onConflict: OnConflict): Result = {
    val (writerId, batchId) = change.ledger match {
      case Ledger.Batch(w, b) => (w, b)
      case Ledger.Next(w) => (w, base.map(_.maxBatchId(w)).getOrElse(-1L) + 1)
      case Ledger.Untracked(n, id) => (n, id)
    }
    val baseBuckets = base.map(_.numBuckets).getOrElse(table.numBuckets)
    beforePublish(writerId, batchId)
    @annotation.tailrec
    def attempt(on: Option[Snapshot], rebasedFrom: Option[Long]): Result =
      table.currentSnapshot() match {
        case Some(head) if !on.exists(_.version == head.version) =>
          if (change.ledger.isInstanceOf[Ledger.Batch] && head.applied(writerId, batchId))
            AlreadyApplied(head)
          else {
            require(head.numBuckets == baseBuckets, s"table was rebucketed to " +
              s"${head.numBuckets} buckets after this write read it at $baseBuckets")
            val rebase = onConflict match {
              case Rebase => true
              case RebaseIfUnchanged(t) => table.resolveFiles(head, Some(t)) ==
                base.map(table.resolveFiles(_, Some(t))).getOrElse(Map.empty)
              case Never => false
            }
            if (!rebase) Stale(head)
            else attempt(Some(head), Some(base.map(_.version).getOrElse(0L) + 1))
          }
        case _ =>
          val cand = candidate(table, on, change, rebasedFrom)
          if (try { table.commit(cand); true } catch { case _: CommitConflictException => false })
            Committed(cand)
          else attempt(on, rebasedFrom) // lost the CAS: the re-read head is past `on`
      }
    attempt(base, None)
  }
}
