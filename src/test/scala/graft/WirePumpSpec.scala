package graft

import graft.metrics.GraftMetrics
import graft.operators.Routing
import graft.source.postgres.{PgSession, ReplicationSpooler, ReplicationWire, SocketCopyBothChannel, WirePump}
import graft.source.wal.{WalFixture, WalLog}
import graft.streaming.{MultiSlot, StreamingPipeline}
import graft.streaming.MultiSlot.SlotSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.collection.mutable

/** Wire-death fail-fast: a fatal replication-socket error must stop the
  * streaming query IMMEDIATELY (not after the 90 s liveness window), record
  * the error, and leave restart-from-checkpoint able to resume — and in a
  * multi-slot deployment, one slot's wire death must not touch its siblings
  * (reference fail-fast design: src/source/postgres/source.zig:394-401).
  */
class WirePumpSpec extends AnyFunSuite {
  import FakeWalsender._
  import ReplicationWire._
  import SocketCopyBothChannel.Endpoint

  private def connectTo(srv: FakeWalsender): SocketCopyBothChannel =
    PgSession.connect(
      Endpoint(srv.host, srv.port, "graft_user", "appdb", None))
      .startReplication("graft_slot", "graft_pub", "0/0", readTimeoutMs = 50)

  private def sendEvents(srv: FakeWalsender, seen: mutable.Set[String],
      ids: Range): Long = {
    var last = 0L
    ids.foreach { i =>
      WalFixture.frames(WalFixture.Ev(i.toLong, 1700000000000000L + i * 1000L,
        i % 7, "click", i * 0.5, "{}"), seen).foreach { f =>
        srv.send(encodeXLogData(XLogData(f.lsn, f.lsn, 0L, f.payload)))
        last = f.lsn
      }
    }
    last
  }

  /** Wait until frames up to `lsn` are VISIBLE ON DISK (flushed segments),
    * not merely received by the spooler — the sink assertion below needs the
    * reader's view, and the pump flushes after each drain pass. */
  private def awaitDrained(walDir: String, lsn: Long): Unit = {
    val deadline = System.nanoTime() + 15000000000L
    while (WalLog.maxLsn(walDir) < lsn && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(WalLog.maxLsn(walDir) >= lsn, "wire did not drain to disk")
  }

  test("wire death stops the query within the poll interval; restart resumes " +
      "from the checkpoint") {
    val walDir = Files.createTempDirectory("graft-pump-wal").toString
    val outDir = Files.createTempDirectory("graft-pump-out").toString
    val ckptDir = Files.createTempDirectory("graft-pump-ckpt").toString
    val spark = SparkTestBase.spark
    val metrics = new GraftMetrics

    val srv = new FakeWalsender(Trust)
    val seen = mutable.Set.empty[String]
    val last = sendEvents(srv, seen, 1 to 60)

    val ch = connectTo(srv)
    val sp = new ReplicationSpooler(ch, walDir)
    val query = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
      ckptDir, outDir, kafkaBootstrap = None, triggerMs = 50L)
    val pump = new WirePump(sp,
      onFatal = e => {
        metrics.lastError.compareAndSet(null, s"replication wire: ${e.getMessage}")
        query.stop()
      },
      onTraffic = () => metrics.wireHeartbeat()).start()
    try {
      srv.awaitCopyBoth()
      awaitDrained(walDir, last)
      query.processAllAvailable()
      val processed = spark.read.parquet(outDir).count()
      assert(processed > 0)

      // kill the walsender mid-stream: the pump must stop the query NOW —
      // not the watchdog 90 s later
      srv.close()
      val deadline = System.nanoTime() + 10000000000L
      while (query.isActive && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!query.isActive, "query must stop immediately on wire death")
      assert(pump.fatal != null)
      assert(metrics.lastError.get() != null &&
        metrics.lastError.get().startsWith("replication wire:"))

      // restart-from-checkpoint: a fresh wire + the SAME walDir/checkpoint
      // resumes and processes new traffic
      val srv2 = new FakeWalsender(Trust)
      // a new walsender session re-announces relations (fresh seen set)
      val last2 = sendEvents(srv2, mutable.Set.empty[String], 101 to 140)
      val ch2 = connectTo(srv2)
      val sp2 = new ReplicationSpooler(ch2, walDir)
      val query2 = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
        ckptDir, outDir, kafkaBootstrap = None, triggerMs = 50L)
      val pump2 = new WirePump(sp2, onFatal = _ => query2.stop()).start()
      try {
        srv2.awaitCopyBoth()
        awaitDrained(walDir, last2)
        query2.processAllAvailable()
        assert(spark.read.parquet(outDir).count() > processed,
          "restarted query must process post-restart traffic")
      } finally { pump2.close(); query2.stop(); sp2.close(); srv2.close() }
    } finally { pump.close(); query.stop(); sp.close(); srv.close() }
  }

  test("half-open wire goes stale: wire liveness is tracked separately from " +
      "query liveness, and advances only on received traffic") {
    // metrics semantics with a fake clock: an idle query's heartbeat must
    // not mask a silently dead wire
    var t = 0L
    val m = new GraftMetrics(() => t)
    m.heartbeat()
    assert(m.live, "no wire attached: query liveness alone governs")
    m.wireAttached()
    t = 100 // past the 90 s window
    m.heartbeat() // the idle query keeps ITS heartbeat fresh (onQueryIdle)
    assert(!m.live, "stale wire must fail /healthz even under a fresh query")
    m.wireHeartbeat()
    assert(m.live)
    // the wire gauge is rendered only when a wire is attached
    assert(m.render.contains("graft_wire_up 1"))
    t = 300
    m.heartbeat()
    assert(m.render.contains("graft_wire_up 0"))
    assert(!new GraftMetrics(() => 0L).render.contains("graft_wire_up"))

    // pump gating: a quiet channel (read -> null, no error) never fires
    // onTraffic; any received message does
    val q = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()
    val ch = new graft.source.postgres.CopyBothChannel {
      override def read(): Array[Byte] = q.poll()
      override def write(msg: Array[Byte]): Unit = ()
      override def close(): Unit = ()
    }
    val walDir = Files.createTempDirectory("graft-halfopen-wal").toString
    val sp = new ReplicationSpooler(ch, walDir)
    val traffic = new java.util.concurrent.atomic.AtomicInteger(0)
    val pump = new WirePump(sp, onFatal = _ => (),
      onTraffic = () => traffic.incrementAndGet()).start()
    try {
      Thread.sleep(200)
      assert(traffic.get() == 0, "a silent wire must not register traffic")
      q.add(encodeKeepalive(Keepalive(1L, 1L, replyRequested = false)))
      val deadline = System.nanoTime() + 5000000000L
      while (traffic.get() == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(traffic.get() > 0, "received traffic must refresh the wire heartbeat")
    } finally { pump.close(); sp.close() }
  }

  test("multi-slot: one slot's wire death stops only that slot; siblings keep " +
      "draining and committing") {
    val walA = Files.createTempDirectory("graft-iso-wala").toString
    val walB = Files.createTempDirectory("graft-iso-walb").toString
    val outDir = Files.createTempDirectory("graft-iso-out").toString
    val ckptDir = Files.createTempDirectory("graft-iso-ckpt").toString
    val spark = SparkTestBase.spark

    val srvA = new FakeWalsender(Trust)
    val srvB = new FakeWalsender(Trust)
    val seenA = mutable.Set.empty[String]
    val seenB = mutable.Set.empty[String]
    val lastA = sendEvents(srvA, seenA, 1 to 40)
    val lastB = sendEvents(srvB, seenB, 1001 to 1040)

    val chA = connectTo(srvA); val spA = new ReplicationSpooler(chA, walA)
    val chB = connectTo(srvB); val spB = new ReplicationSpooler(chB, walB)
    val handles = MultiSlot.start(spark,
      Seq(SlotSpec("a", walA), SlotSpec("b", walB)),
      Routing.fixtureStreams, ckptDir, outDir, triggerMs = 50L)
    val Seq(hA, hB) = handles
    // per-slot fault containment: each pump stops ITS OWN query only
    val pumpA = new WirePump(spA, onFatal = _ => hA.query.stop()).start()
    val pumpB = new WirePump(spB, onFatal = _ => hB.query.stop()).start()
    try {
      srvA.awaitCopyBoth(); srvB.awaitCopyBoth()
      awaitDrained(walA, lastA)
      awaitDrained(walB, lastB)
      MultiSlot.drainAll(handles)
      val bBefore = spark.read.parquet(s"$outDir/slot=b").count()
      assert(bBefore > 0)

      // slot A's wire dies
      srvA.close()
      val deadline = System.nanoTime() + 10000000000L
      while (hA.query.isActive && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!hA.query.isActive, "slot a must stop on its wire death")
      assert(hB.query.isActive, "slot b must be untouched")

      // the sibling keeps ingesting and committing
      val lastB2 = sendEvents(srvB, seenB, 1101 to 1130)
      awaitDrained(walB, lastB2)
      hB.query.processAllAvailable()
      assert(spark.read.parquet(s"$outDir/slot=b").count() > bBefore,
        "surviving slot must keep draining")
      assert(hB.query.isActive)
    } finally {
      pumpA.close(); pumpB.close()
      MultiSlot.stopAll(handles)
      spA.close(); spB.close(); srvA.close(); srvB.close()
    }
  }

  test("4-slot fault containment: one wire death freezes only that slot's " +
      "confirmed LSN; three siblings keep draining and committing") {
    // the N>2 form of the property above (r8 VERDICT #8): scale-out is
    // N slots ∝ tables, so containment and COMMIT isolation must hold past
    // the pairwise case — each slot owns its confirmed-LSN file, and a dead
    // slot's progress freezes while every sibling's keeps advancing
    val spark = SparkTestBase.spark
    val n = 4
    val outDir = Files.createTempDirectory("graft-iso4-out").toString
    val ckptDir = Files.createTempDirectory("graft-iso4-ckpt").toString
    val wals = (0 until n).map(i =>
      Files.createTempDirectory(s"graft-iso4-wal$i").toString)
    val srvs = (0 until n).map(_ => new FakeWalsender(Trust))
    val seens = (0 until n).map(_ => mutable.Set.empty[String])
    // disjoint id ranges per slot → disjoint, ordered LSN ranges
    val lasts = (0 until n).map(i =>
      sendEvents(srvs(i), seens(i), (i * 1000 + 1) to (i * 1000 + 40))).toArray
    val chs = srvs.map(connectTo)
    val sps = chs.zip(wals).map { case (ch, w) => new ReplicationSpooler(ch, w) }
    val handles = MultiSlot.start(spark,
      wals.zipWithIndex.map { case (w, i) => SlotSpec(s"s$i", w) },
      Routing.fixtureStreams, ckptDir, outDir, triggerMs = 50L)
    val pumps = sps.zip(handles).map { case (sp, h) =>
      new WirePump(sp, onFatal = _ => h.query.stop()).start() }
    try {
      srvs.foreach(_.awaitCopyBoth())
      (0 until n).foreach(i => awaitDrained(wals(i), lasts(i)))
      MultiSlot.drainAll(handles)
      // the confirmed-LSN write for batch N fires when batch N+1 runs
      // (source.commit lags one micro-batch), so nudge every slot with a
      // second round before sampling the baseline
      (0 until n).foreach { i =>
        lasts(i) = sendEvents(srvs(i), seens(i),
          (i * 1000 + 51) to (i * 1000 + 60))
      }
      (0 until n).foreach(i => awaitDrained(wals(i), lasts(i)))
      MultiSlot.drainAll(handles)
      val confirmed0 = handles.map(_.confirmed)
      confirmed0.zipWithIndex.foreach { case (c, i) =>
        assert(c > 0, s"slot $i never committed") }
      // disjoint ranges ⇒ strictly increasing confirmed LSNs across slots
      confirmed0.sliding(2).foreach { case Seq(a, b) => assert(a < b)
      case _ => () }

      // slot 1's wire dies
      srvs(1).close()
      val deadline = System.nanoTime() + 10000000000L
      while (handles(1).query.isActive && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(!handles(1).query.isActive, "dead slot must stop")
      Seq(0, 2, 3).foreach(i =>
        assert(handles(i).query.isActive, s"slot $i must be untouched"))

      // siblings keep ingesting; their confirmed LSNs advance, the dead
      // slot's stays frozen
      Seq(0, 2, 3).foreach { i =>
        lasts(i) = sendEvents(srvs(i), seens(i),
          (i * 1000 + 101) to (i * 1000 + 130))
      }
      Seq(0, 2, 3).foreach(i => awaitDrained(wals(i), lasts(i)))
      Seq(0, 2, 3).foreach(i => handles(i).query.processAllAvailable())
      Seq(0, 2, 3).foreach { i =>
        assert(handles(i).confirmed > confirmed0(i),
          s"surviving slot $i confirmed LSN must advance")
      }
      assert(handles(1).confirmed == confirmed0(1),
        "dead slot's confirmed LSN must freeze")
    } finally {
      pumps.foreach(_.close())
      MultiSlot.stopAll(handles)
      sps.foreach(_.close()); srvs.foreach(_.close())
    }
  }
}
