package graft

import graft.config.StreamDef
import graft.model.{ChangeEvent, Op}
import graft.source.pgoutput.{Converter, PgOutputDecoder, PgOutputEncoder, PgOutputMessage, RelationRegistry}
import graft.source.pgoutput.PgOutputMessage._
import graft.source.pgoutput.PgOutputMessages._
import graft.source.postgres.{PgSession, PgWire, Replication, ReplicationSpooler, ReplicationWire, SnapshotBootstrap, SocketCopyBothChannel, WireBootstrap}
import graft.source.wal.WalLog
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** Cold-start bootstrap over the live wire session: simple-query result
  * parsing, publication + slot creation with `consistent_point` capture,
  * the marker/redo state machine, and the snapshot-then-stream consistency
  * contract (reference: replication_protocol.zig:216-313, source.zig:178-197,
  * e2e contract src/e2e/snapshot_test.zig:12-24) — all against
  * [[FakeWalsender]]'s independently-written backend.
  */
class WireBootstrapSpec extends AnyFunSuite {
  import FakeWalsender._
  import SocketCopyBothChannel.Endpoint

  private val ordersCols = Seq(("o_id", 20), ("status", 25), ("total", 701))
  private val ordersRows = Seq(
    Seq("1", "new", "10.5"),
    Seq("2", "paid", "20"),
    Seq("3", "new", null))

  private val streams = Seq(StreamDef("orders", "public.orders",
    Seq("insert", "update", "delete", "read"), "cdc.orders"))

  private def ep(srv: FakeWalsender) =
    Endpoint(srv.host, srv.port, "graft_user", "appdb", None)

  test("simple queries round-trip: RowDescription/DataRow/CommandComplete by name") {
    val srv = new FakeWalsender(Trust)
    val s = PgSession.connect(ep(srv))
    try {
      assert(!WireBootstrap.publicationExists(s, "graft_pub"))
      assert(WireBootstrap.ensurePublication(s, "graft_pub", Seq("public.orders")))
      assert(WireBootstrap.publicationExists(s, "graft_pub"))
      assert(!WireBootstrap.ensurePublication(s, "graft_pub", Seq("public.orders")))
      // a failing statement surfaces the server's message and SQLSTATE
      val e = intercept[IllegalStateException] { s.simpleQuery("FROBNICATE") }
      assert(e.getMessage.contains("42601"))
      // ... and the session stays usable afterwards (drained to ReadyForQuery)
      assert(WireBootstrap.publicationExists(s, "graft_pub"))
    } finally { s.close(); srv.close() }
  }

  test("mid-response timeout poisons the session: reuse fails loudly " +
      "instead of parsing desynced bytes") {
    val srv = new FakeWalsender(Trust)
    srv.stallOnQuery = "FETCH FORWARD 5000 FROM graft_snapshot_cursor"
    val s = PgSession.connect(ep(srv), queryTimeoutMs = 300)
    try {
      val e = intercept[IllegalStateException] {
        s.simpleQuery("FETCH FORWARD 5000 FROM graft_snapshot_cursor")
      }
      assert(e.getMessage.contains("poisoned"))
      // the session is now unusable BY CONSTRUCTION — a caller that caught
      // the timeout and retried would otherwise parse garbage frames
      val e2 = intercept[IllegalArgumentException] { s.simpleQuery("SELECT 1") }
      assert(e2.getMessage.contains("poisoned"))
      val e3 = intercept[IllegalArgumentException] {
        s.startReplication("graft_slot", "graft_pub", "0/0")
      }
      assert(e3.getMessage.contains("poisoned"))
    } finally { s.close(); srv.close() }
  }

  test("cold start: direct streaming fails on a fresh server; bootstrap creates " +
      "publication + slot, captures consistent_point, emits snapshot READs") {
    val srv = new FakeWalsender(Trust)
    srv.strictSlots = true
    srv.nextConsistentPoint = 0x500L
    srv.tables.put("public.orders", (ordersCols, ordersRows))

    // the r3 gap, demonstrated: streaming against an assumed-existing slot
    // has nothing to stream from on a fresh database
    val refused = intercept[IllegalStateException] {
      PgSession.connect(ep(srv)).startReplication("graft_slot", "graft_pub", "0/0")
    }
    assert(refused.getMessage.contains("does not exist"))
    srv.close()

    val srv2 = new FakeWalsender(Trust)
    srv2.strictSlots = true
    srv2.nextConsistentPoint = 0x500L
    srv2.tables.put("public.orders", (ordersCols, ordersRows))
    val s = PgSession.connect(ep(srv2))
    val reads = ArrayBuffer.empty[ChangeEvent]
    var flushed = false
    val boot = WireBootstrap.bootstrap(s, "graft_slot", "graft_pub", streams,
      confirmedLsn = 0L, emit = reads += _, flushDelivery = () => flushed = true,
      nowS = () => 1700000000L)
    assert(boot.outcome == SnapshotBootstrap.Snapshotted(0x500L, Seq("public.orders")))
    assert(boot.startLsn == 0x500L)
    assert(flushed, "snapshot must flush-barrier before the marker drops")
    assert(srv2.publications.contains("graft_pub"))
    assert(!srv2.publications.contains("graft_snapshot_marker"),
      "marker must be dropped after the snapshot completes")
    assert(srv2.slots.get("graft_slot") == 0x500L)
    // per-table publication pushes row filtering into the server
    assert(srv2.queriesSeen.toArray.exists(
      _ == "CREATE PUBLICATION graft_pub FOR TABLE public.orders"))
    // delivered resources are ledgered durably (the delta-resume contract)
    assert(srv2.publications.contains(Replication.snapshotDoneName("public.orders")))

    // snapshot rows: exactly the frozen table, as READ, at the boundary LSN,
    // promoted by OID exactly like streamed pgoutput datums
    assert(reads.size == 3)
    assert(reads.forall(e => e.op == Op.Read && e.meta.lsn == "0/500" &&
      e.meta.resource == "public.orders" && e.meta.timestamp == 1700000000L))
    assert(reads.map(_.data) == ArrayBuffer(
      """{"o_id":1,"status":"new","total":10.5}""",
      """{"o_id":2,"status":"paid","total":20.0}""",
      """{"o_id":3,"status":"new","total":null}"""))

    // the SAME session then enters CopyBoth from the captured point
    val ch = s.startReplication("graft_slot", "graft_pub",
      ChangeEvent.lsnText(boot.startLsn), readTimeoutMs = 100)
    try {
      srv2.awaitCopyBoth()
      assert(srv2.startQuery.contains("SLOT graft_slot LOGICAL 0/500"))
    } finally { ch.close(); srv2.close() }
  }

  test("slow flush barrier between COMMIT and the snapdone ledger write does " +
      "not kill the server's query loop (the MainE2ESpec cold-start flake)") {
    // the flake in the wild: the snapshot flush barrier runs the child's
    // FIRST Spark parquet job between two bootstrap statements; under
    // full-suite contention that cold start exceeded the scripted server's
    // 10 s read timeout, its query loop died, and the next statement
    // (CREATE PUBLICATION graft_snapdone_…) waited 30 s for a response that
    // never came — poisoning the session and wedging the child. An idle
    // client between statements is legal; the server must wait.
    val srv = new FakeWalsender(Trust)
    srv.strictSlots = true
    srv.queryIdleTimeoutMs = 200 // make inter-query idle exceed it cheaply
    srv.tables.put("public.orders", (ordersCols, ordersRows))
    val s = PgSession.connect(ep(srv))
    try {
      val events = ArrayBuffer.empty[ChangeEvent]
      val boot = WireBootstrap.bootstrap(s, "graft_slot", "graft_pub", streams,
        confirmedLsn = 0L, emit = events += _,
        flushDelivery = () => Thread.sleep(800)) // cold-Spark-job stand-in
      assert(boot.outcome.isInstanceOf[SnapshotBootstrap.Snapshotted])
      assert(events.size == 3)
      // the statements AFTER the idle gap were answered: ledger written
      assert(WireBootstrap.publicationExists(s,
        Replication.snapshotDoneName("public.orders")))
      assert(srv.failure == null, s"server thread died: ${srv.failure}")
    } finally { s.close(); srv.close() }
  }

  test("existing publication is reconciled to the configured streams " +
      "(a config-added table must not be silently unfiltered)") {
    val srv = new FakeWalsender(Trust)
    val s = PgSession.connect(ep(srv))
    try {
      assert(WireBootstrap.ensurePublication(s, "graft_pub", Seq("public.orders")))
      // same config again: no catalog churn
      assert(!WireBootstrap.ensurePublication(s, "graft_pub", Seq("public.orders")))
      // a stream for public.users was added to the config: the publication's
      // table list must be reconciled, or the walsender filters users out
      // forever while the pipeline stays green
      assert(WireBootstrap.ensurePublication(s, "graft_pub",
        Seq("public.orders", "public.users")))
      assert(srv.publicationTables.get("graft_pub").toSet ==
        Set("public.orders", "public.users"))
      assert(srv.queriesSeen.toArray.exists(
        _ == "ALTER PUBLICATION graft_pub SET TABLE public.orders, public.users"))
    } finally { s.close(); srv.close() }
  }

  test("publication name colliding with the snapshot marker is refused") {
    val srv = new FakeWalsender(Trust)
    val s = PgSession.connect(ep(srv))
    try {
      val e = intercept[IllegalArgumentException] {
        WireBootstrap.bootstrap(s, "graft_slot", "graft_snapshot_marker",
          streams, confirmedLsn = 0L, emit = _ => (), flushDelivery = () => ())
      }
      assert(e.getMessage.contains("marker"))
    } finally { s.close(); srv.close() }
  }

  test("pre-auth message cap: a huge length word before auth is rejected " +
      "without the allocation") {
    val big = java.nio.ByteBuffer.allocate(5)
      .put('R'.toByte).putInt(PgWire.HandshakeMaxBytes + 1).array()
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(big))
    val e = intercept[IllegalArgumentException] {
      PgWire.readBackend(in, PgWire.HandshakeMaxBytes)
    }
    assert(e.getMessage.contains("implausible"))
  }

  test("interrupted snapshot: marker present → orphaned slot dropped, snapshot redone") {
    val srv = new FakeWalsender(Trust)
    srv.strictSlots = true
    srv.tables.put("public.orders", (ordersCols, ordersRows))
    // simulate a crash mid-snapshot: marker publication still there, slot
    // created at an old point whose READ events never fully delivered
    srv.publications.add("graft_snapshot_marker")
    srv.slots.put("graft_slot", 0x400L)
    srv.nextConsistentPoint = 0x900L

    val s = PgSession.connect(ep(srv))
    val reads = ArrayBuffer.empty[ChangeEvent]
    try {
      val boot = WireBootstrap.bootstrap(s, "graft_slot", "graft_pub", streams,
        confirmedLsn = 0L, emit = reads += _, flushDelivery = () => ())
      assert(boot.outcome == SnapshotBootstrap.Snapshotted(0x900L, Seq("public.orders")))
      val qs = srv.queriesSeen.toArray.map(_.toString)
      assert(qs.exists(_.startsWith("DROP_REPLICATION_SLOT graft_slot")))
      assert(qs.contains("DROP PUBLICATION IF EXISTS graft_snapshot_marker"))
      assert(reads.size == 3 && reads.forall(_.meta.lsn == "0/900"),
        "redone snapshot must stamp the FRESH consistent point")
    } finally { s.close(); srv.close() }
  }

  test("clean restart: slot exists, no marker, ledger complete → resume from " +
      "the confirmed LSN") {
    val srv = new FakeWalsender(Trust)
    srv.strictSlots = true
    srv.slots.put("graft_slot", 0x400L)
    srv.publications.add(Replication.snapshotDoneName("public.orders"))
    val s = PgSession.connect(ep(srv))
    try {
      val boot = WireBootstrap.bootstrap(s, "graft_slot", "graft_pub", streams,
        confirmedLsn = 0x777L, emit = _ => fail("no snapshot on clean resume"),
        flushDelivery = () => ())
      assert(boot.outcome == SnapshotBootstrap.Resumed)
      assert(boot.startLsn == 0x777L)
    } finally { s.close(); srv.close() }
  }

  test("read-opted table added after bootstrap: resume delta-snapshots exactly " +
      "the new table at the captured WAL boundary and ledgers it durably") {
    val srv = new FakeWalsender(Trust)
    srv.strictSlots = true
    srv.slots.put("graft_slot", 0x400L) // the original bootstrap's slot
    srv.publications.add("graft_pub")
    srv.publicationTables.put("graft_pub", Seq("public.orders"))
    // orders' initial state was delivered by the original bootstrap
    srv.publications.add(Replication.snapshotDoneName("public.orders"))
    srv.currentWalLsn = 0x900L
    srv.tables.put("public.orders", (ordersCols, ordersRows))
    val usersCols = Seq(("u_id", 20), ("email", 25))
    srv.tables.put("public.users",
      (usersCols, Seq(Seq("7", "a@x.example"), Seq("8", "b@y.example"))))

    // the config grew a read-opted stream for public.users since then
    val grown = streams :+ StreamDef("users", "public.users",
      Seq("insert", "update", "read"), "cdc.users")
    val s = PgSession.connect(ep(srv))
    val reads = ArrayBuffer.empty[ChangeEvent]
    var flushed = false
    try {
      val boot = WireBootstrap.bootstrap(s, "graft_slot", "graft_pub", grown,
        confirmedLsn = 0x777L, emit = reads += _,
        flushDelivery = () => flushed = true, nowS = () => 1700000000L)
      assert(boot.outcome ==
        SnapshotBootstrap.DeltaSnapshotted(0x900L, Seq("public.users")))
      assert(boot.startLsn == 0x777L, "the STREAM resumes from the confirmed LSN")
      assert(flushed)
      // exactly the new table, as READ, at the delta boundary
      assert(reads.size == 2)
      assert(reads.forall(e => e.op == Op.Read &&
        e.meta.resource == "public.users" && e.meta.lsn == "0/900"))
      // publication reconciled; the new table ledgered only after the flush
      assert(srv.publicationTables.get("graft_pub").toSet ==
        Set("public.orders", "public.users"))
      assert(srv.publications.contains(Replication.snapshotDoneName("public.users")))
      val qs = srv.queriesSeen.toArray.map(_.toString)
      assert(!qs.exists(q => q.startsWith("DECLARE") && q.endsWith("public.orders")),
        "the already-delivered table must not be rescanned")
      val scanIdx = qs.indexWhere(q => q.startsWith("DECLARE") &&
        q.endsWith("public.users"))
      val commitIdx = qs.indexOf("COMMIT")
      val ledgerIdx = qs.indexOf(
        s"CREATE PUBLICATION ${Replication.snapshotDoneName("public.users")}")
      assert(scanIdx >= 0 && commitIdx > scanIdx && ledgerIdx > commitIdx,
        s"scan → commit+flush → ledger, got scan=$scanIdx commit=$commitIdx " +
          s"ledger=$ledgerIdx in:\n${qs.mkString("\n")}")
      // retried start: ledger complete → clean resume, nothing re-emitted
    } finally { s.close(); srv.close() }
  }

  test("snapshot-then-stream: pre-slot rows exactly once as READ at the boundary; " +
      "post-slot changes stream as I/U/D above it") {
    val walDir = Files.createTempDirectory("graft-boot-wal").toString
    val srv = new FakeWalsender(Trust)
    srv.strictSlots = true
    srv.nextConsistentPoint = 0x500L
    srv.tables.put("public.orders", (ordersCols, ordersRows))

    // post-slot changes, queued for CopyBoth delivery (LSNs ABOVE the
    // consistent point — a real walsender only streams past it)
    val rel = Relation(77, "public", "orders", 'd'.toByte, Vector(
      ColumnDef(1, "o_id", 20, -1), ColumnDef(0, "status", 25, -1),
      ColumnDef(0, "total", 701, -1)))
    def tup(vals: String*) = TupleData(vals.toVector.map {
      case null => NullDatum
      case v => TextDatum(v)
    })
    val changes: Seq[(Long, PgOutputMessage)] = Seq(
      0x600L -> rel,
      0x601L -> Begin(0x610L, 820454400000000L, 9001),
      0x602L -> Insert(77, tup("4", "new", "5.0")),
      0x603L -> Update(77, None, tup("1", "shipped", "10.5")),
      0x604L -> Delete(77, tup("2", "paid", "20")),
      0x610L -> Commit(0, 0x610L, 0x610L, 820454400000000L))
    changes.foreach { case (lsn, m) =>
      srv.send(ReplicationWire.encodeXLogData(
        ReplicationWire.XLogData(lsn, lsn, 0L, PgOutputEncoder.encode(m))))
    }

    val s = PgSession.connect(ep(srv))
    val reads = ArrayBuffer.empty[ChangeEvent]
    val boot = WireBootstrap.bootstrap(s, "graft_slot", "graft_pub", streams,
      confirmedLsn = 0L, emit = reads += _, flushDelivery = () => ())
    val boundary = boot.startLsn
    assert(boundary == 0x500L)

    val ch = s.startReplication("graft_slot", "graft_pub",
      ChangeEvent.lsnText(boundary), readTimeoutMs = 50)
    val sp = new ReplicationSpooler(ch, walDir)
    try {
      srv.awaitCopyBoth()
      val deadline = System.nanoTime() + 10000000000L
      while (sp.lastReceivedLsn < 0x610L && System.nanoTime() < deadline) {
        sp.pump(); Thread.sleep(10)
      }
      assert(sp.lastReceivedLsn == 0x610L, "wire did not drain")
    } finally { sp.close(); srv.close() }

    // decode the spooled stream exactly as the engine does
    val conv = new Converter(new RelationRegistry)
    val streamed = WalLog.read(walDir, 0L, Long.MaxValue)
      .flatMap(f => conv.convert(PgOutputDecoder.decode(f.payload), f.lsn))
      .toVector

    // THE consistency contract (snapshot_test.zig:12-24): every pre-slot row
    // exactly once as READ stamped with the boundary; every post-slot change
    // streamed exactly once, strictly above the boundary; one dedup line.
    assert(reads.map(e => (e.op, e.meta.lsn)).forall(_ == (Op.Read, "0/500")))
    assert(reads.size == 3)
    assert(streamed.map(_.op) == Vector(Op.Insert, Op.Update, Op.Delete))
    assert(streamed.forall(e => ChangeEvent.lsnValue(e.meta.lsn) > boundary))
    val readIds = reads.map(_.data.split(",")(0))
    assert(readIds.distinct.size == 3, "no pre-slot row may appear twice")
    assert(streamed.map(_.data) == Vector(
      """{"o_id":4,"status":"new","total":5.0}""",
      """{"o_id":1,"status":"shipped","total":10.5}""",
      """{"o_id":2,"status":"paid","total":20.0}"""))
  }
}
