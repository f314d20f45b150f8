package graft.source.postgres

import graft.config.StreamDef

/** S7 — snapshot orchestration & crash recovery as a deterministic state
  * machine over an abstract catalog.
  *
  * The reference's contract (reference: src/processor/processor.zig:254-343,
  * src/source/postgres/source.zig:169-286, marker
  * replication_protocol.zig:174-214):
  *
  *  1. A MARKER publication is created BEFORE the slot — a durable
  *     "snapshot in progress" flag.
  *  2. Slot creation pins the bootstrap session's transaction to the
  *     slot's snapshot; rows read under it become READ events stamped with
  *     the slot's consistent point.
  *  3. The marker is dropped only after the snapshot fully flushes — so
  *     marker-present-at-startup means an interrupted snapshot: drop the
  *     orphaned slot and redo from a fresh consistent point.
  *  4. Resources read by several read-opted streams are deduplicated.
  *
  * Beyond the reference, a durable PER-RESOURCE ledger records which tables
  * have had their initial rows delivered. A read-opted stream added to the
  * config AFTER the first bootstrap would otherwise resume into streaming
  * with no initial state for its table, silently: the existing slot makes a
  * clean restart look complete. With the ledger, resume computes the DELTA
  * (read resources not yet ledgered) and snapshots exactly those, inside a
  * fresh REPEATABLE READ transaction whose boundary is the server's current
  * WAL position — consistent under the consumer's upsert semantics:
  * replayed changes below the boundary re-apply states the snapshot already
  * contains; changes above it arrive after and win.
  *
  * Ledger crash-safety: entries are written only AFTER the delivery flush
  * barrier, so a crash mid-snapshot leaves the resource unledgered and the
  * next start re-snapshots it (duplicate READs — within at-least-once). A
  * full redo (orphaned marker) clears the ledger first: its entries were
  * scoped to the dropped slot's timeline.
  *
  * [[Catalog]] abstracts the side effects; production backs it with the
  * wire session ([[WireBootstrap.WireCatalog]]), tests with an in-memory
  * fake — the decision logic is identical and fully covered either way.
  */
object SnapshotBootstrap {

  /** Side-effect boundary (the bootstrap's [[PgSession]] in production, a
    * fake in tests). */
  trait Catalog {
    def markerExists(marker: String): Boolean
    def createMarker(marker: String): Unit
    def dropMarker(marker: String): Unit
    def slotExists(slot: String): Boolean
    /** Create the slot and return its consistent point; when a snapshot
      * phase follows, the session is left pinned to the slot's snapshot. */
    def createSlot(slot: String): Long
    def dropSlot(slot: String): Unit
    /** Emit all current rows of `resource` as READ events stamped with
      * `boundaryLsn`, under the pinned snapshot. */
    def snapshotResource(resource: String, boundaryLsn: Long): Unit
    /** Delivery barrier: returns only when every emitted READ event is
      * durably in the sink (producer flush — processor.zig:336-343). */
    def flushSink(): Unit
    /** Durable per-resource ledger: has `resource`'s initial state been
      * fully delivered to the sink (flush-barrier included)? */
    def snapshotDone(resource: String): Boolean
    def recordSnapshotDone(resource: String): Unit
    def clearSnapshotLedger(): Unit
    /** Open a REPEATABLE READ transaction for a delta snapshot and return
      * its boundary LSN (the server's current WAL insert position, captured
      * by the same statement that establishes the snapshot). The transaction
      * ends at the next [[flushSink]]. */
    def openDeltaTransaction(): Long
  }

  sealed trait Outcome
  /** Snapshot ran (fresh or redo) and streaming starts at `consistentPoint`. */
  final case class Snapshotted(consistentPoint: Long, resources: Seq[String]) extends Outcome
  /** Slot already existed, no marker, every read resource ledgered — clean
    * restart, resume streaming. */
  case object Resumed extends Outcome
  /** Slot existed but read-opted resources were added since the original
    * bootstrap: exactly those were snapshotted at `boundary`; streaming
    * resumes from the engine's confirmed LSN as on any clean restart. */
  final case class DeltaSnapshotted(boundary: Long, resources: Seq[String]) extends Outcome
  /** No stream opted into READ — slot ensured, no snapshot phase. */
  final case class NoSnapshotNeeded(consistentPoint: Long) extends Outcome

  /** Distinct snapshot resources across read-opted streams
    * (processor.zig:280-298). */
  def readResources(streams: Seq[StreamDef]): Seq[String] =
    streams.filter(_.needsInitialSnapshot).map(_.normalized.resource).distinct

  def run(cat: Catalog, slot: String, streams: Seq[StreamDef],
      marker: String = "graft_snapshot_marker"): Outcome = {
    val resources = readResources(streams)

    // Crash recovery: marker present ⇒ prior snapshot never finished ⇒ the
    // slot (if any) is orphaned mid-snapshot; its consistent point no longer
    // matches what the sink saw. Drop and redo (the fresh-slot path below
    // also clears the ledger — its entries died with the slot's timeline).
    if (cat.markerExists(marker)) {
      if (cat.slotExists(slot)) cat.dropSlot(slot)
      cat.dropMarker(marker)
    }

    if (cat.slotExists(slot)) {
      // clean restart — unless read-opted resources were added since the
      // original bootstrap (their rows are NOT in the sink; resuming would
      // silently serve future changes with no initial state)
      val delta = resources.filterNot(cat.snapshotDone)
      if (delta.isEmpty) return Resumed
      // an existing slot cannot pin a new snapshot; a fresh REPEATABLE
      // READ transaction is the consistency unit, its boundary the captured
      // WAL position. No marker: an interrupted delta leaves the resources
      // unledgered and is simply retried next start (at-least-once).
      val boundary = cat.openDeltaTransaction()
      delta.foreach(r => cat.snapshotResource(r, boundary))
      cat.flushSink()
      delta.foreach(cat.recordSnapshotDone)
      return DeltaSnapshotted(boundary, delta)
    }

    // a fresh slot starts a new timeline: any surviving ledger entries were
    // scoped to a slot that no longer exists (dropped out of band) — clear
    // them so later-added read streams can never skip their initial state
    cat.clearSnapshotLedger()

    if (resources.isEmpty) {
      return NoSnapshotNeeded(cat.createSlot(slot))
    }

    cat.createMarker(marker) // durable flag FIRST
    val point = cat.createSlot(slot)
    resources.foreach(r => cat.snapshotResource(r, point))
    cat.flushSink() // READ events must be delivered before the flag drops
    // ledger before the marker drops: a crash in between redoes the full
    // snapshot (marker wins); the reverse order would leave delivered
    // resources unledgered only to re-deliver them as a spurious delta
    resources.foreach(cat.recordSnapshotDone)
    cat.dropMarker(marker)
    Snapshotted(point, resources)
  }
}
