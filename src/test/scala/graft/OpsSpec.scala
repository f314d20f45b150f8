package graft

import graft.config.StreamDef
import graft.metrics.{GraftMetrics, GraftQueryListener, MetricsHttp}
import graft.source.postgres.{Replication, SnapshotBootstrap}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

class OpsSpec extends AnyFunSuite {

  // ---- S2: replication session SQL ----
  test("replication command text matches the protocol forms") {
    assert(Replication.createPublication("pub", Seq("public.users", "public.orders"))
      == "CREATE PUBLICATION pub FOR TABLE public.users, public.orders")
    assert(Replication.createPublication("pub", Nil)
      == "CREATE PUBLICATION pub FOR ALL TABLES")
    assert(Replication.createSlot("s", Replication.UseSnapshot)
      == "CREATE_REPLICATION_SLOT s LOGICAL pgoutput USE_SNAPSHOT")
    assert(Replication.createSlot("s", Replication.NoSnapshot)
      == "CREATE_REPLICATION_SLOT s LOGICAL pgoutput NOEXPORT_SNAPSHOT")
    assert(Replication.startReplication("s", "pub", "0/1A2B3C") ==
      "START_REPLICATION SLOT s LOGICAL 0/1A2B3C " +
        "(proto_version '1', publication_names 'pub')")
    assert(Replication.fetchForward("c", 5000) == "FETCH FORWARD 5000 FROM c")
  }

  // ---- S7: bootstrap state machine over a fake catalog ----
  private class FakeCatalog extends SnapshotBootstrap.Catalog {
    val log = mutable.Buffer.empty[String]
    var marker = false
    var slot = false
    var snapshotValid = false
    var deltaOpen = false
    val ledger = mutable.Set.empty[String]
    def markerExists(m: String): Boolean = marker
    def createMarker(m: String): Unit = { marker = true; log += "createMarker" }
    def dropMarker(m: String): Unit = { marker = false; log += "dropMarker" }
    def slotExists(s: String): Boolean = slot
    def createSlot(s: String): Long = {
      slot = true; snapshotValid = true; log += "createSlot"; 1000L
    }
    def dropSlot(s: String): Unit = { slot = false; log += "dropSlot" }
    def snapshotResource(r: String, lsn: Long): Unit = {
      // a scan is only valid under a pinned slot snapshot (full path) or an
      // open delta transaction (resume path) — never outside either
      assert((snapshotValid && lsn == 1000L) || (deltaOpen && lsn == 2000L))
      log += s"snapshot:$r"
    }
    def flushSink(): Unit = { deltaOpen = false; log += "flush" }
    def snapshotDone(r: String): Boolean = ledger.contains(r)
    def recordSnapshotDone(r: String): Unit = { ledger += r; log += s"ledger:$r" }
    def clearSnapshotLedger(): Unit = { ledger.clear(); log += "clearLedger" }
    def openDeltaTransaction(): Long = { deltaOpen = true; log += "beginDelta"; 2000L }
  }

  private val readStream = StreamDef("s1", "users", Seq("insert", "read"), "t1")
  private val readStream2 = StreamDef("s2", "public.users", Seq("read"), "t2")
  private val plainStream = StreamDef("s3", "orders", Seq("insert"), "t3")

  test("fresh bootstrap: marker before slot, snapshot deduped, flush before marker drop") {
    val cat = new FakeCatalog
    val out = SnapshotBootstrap.run(cat, "slot1",
      Seq(readStream, readStream2, plainStream))
    assert(out == SnapshotBootstrap.Snapshotted(1000L, Seq("public.users")))
    // order IS the contract: durable flag → slot → snapshot → flush →
    // ledger → unflag (ledger before the marker drops: a crash in between
    // redoes the full snapshot rather than replaying a spurious delta)
    assert(cat.log == Seq("clearLedger", "createMarker", "createSlot",
      "snapshot:public.users", "flush", "ledger:public.users", "dropMarker"))
  }

  test("clean restart with existing slot and complete ledger resumes without snapshot") {
    val cat = new FakeCatalog
    cat.slot = true
    cat.ledger += "public.users"
    assert(SnapshotBootstrap.run(cat, "slot1", Seq(readStream)) ==
      SnapshotBootstrap.Resumed)
    assert(cat.log.isEmpty)
  }

  test("read resource added after bootstrap: resume snapshots exactly the delta " +
      "inside a fresh transaction, ledgers it after the flush barrier") {
    val cat = new FakeCatalog
    cat.slot = true
    cat.ledger += "public.users" // original table: already delivered
    val newRead = StreamDef("s4", "public.orders", Seq("insert", "read"), "t4")
    val out = SnapshotBootstrap.run(cat, "slot1", Seq(readStream, newRead))
    assert(out == SnapshotBootstrap.DeltaSnapshotted(2000L, Seq("public.orders")))
    assert(cat.log == Seq("beginDelta", "snapshot:public.orders", "flush",
      "ledger:public.orders"))
    // retried start: everything ledgered now — clean resume
    assert(SnapshotBootstrap.run(cat, "slot1", Seq(readStream, newRead)) ==
      SnapshotBootstrap.Resumed)
  }

  test("interrupted snapshot (marker present) drops orphaned slot, clears the " +
      "ledger and redoes") {
    val cat = new FakeCatalog
    cat.marker = true
    cat.slot = true
    cat.ledger += "public.users" // ledgered under the now-orphaned slot
    val out = SnapshotBootstrap.run(cat, "slot1", Seq(readStream))
    assert(out == SnapshotBootstrap.Snapshotted(1000L, Seq("public.users")))
    assert(cat.log.take(3) == Seq("dropSlot", "dropMarker", "clearLedger"))
    assert(cat.log.contains("snapshot:public.users"),
      "stale ledger must not suppress the redo")
  }

  test("no read-opted streams: slot only, no snapshot phase; stale ledger cleared") {
    val cat = new FakeCatalog
    cat.ledger += "public.users" // slot dropped out of band, entries stale
    assert(SnapshotBootstrap.run(cat, "slot1", Seq(plainStream)) ==
      SnapshotBootstrap.NoSnapshotNeeded(1000L))
    assert(cat.log == Seq("clearLedger", "createSlot"))
    assert(cat.ledger.isEmpty,
      "a fresh slot is a new timeline — surviving entries could skip a " +
        "later-added read stream's initial state")
  }

  // ---- O1: HTTP endpoints, driven over a real socket ----
  test("metrics HTTP server serves /metrics /healthz /readyz") {
    var now = 1000L
    val m = new GraftMetrics(() => now)
    m.recordBatch(42, Some(990L))
    m.tally("s_click", "INSERT", 40)
    m.tally("s_click", "UPDATE", 2)
    val http = new MetricsHttp(m, 0)
    val port = http.start()
    try {
      def get(path: String): (Int, String) = {
        val c = new java.net.URL(s"http://localhost:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = c.getResponseCode
        val is = if (code < 400) c.getInputStream else c.getErrorStream
        val body = new String(is.readAllBytes())
        (code, body)
      }
      val (mc, mb) = get("/metrics")
      assert(mc == 200)
      assert(mb.contains("graft_events_processed_total 42"))
      assert(mb.contains("graft_replication_lag_seconds 10"))
      assert(mb.contains("graft_stream_events_total{stream=\"s_click\",op=\"INSERT\"} 40"))
      assert(get("/healthz")._1 == 200)
      assert(get("/readyz")._1 == 200)
      // stale wire activity past the 90 s window flips liveness (O1 stall)
      now += 200
      assert(get("/healthz")._1 == 503)
      assert(get("/readyz")._1 == 503)
      assert(get("/metrics")._2.contains("graft_up 0"))
    } finally http.stop()
  }

  test("stall watchdog stops the query once the wire is silent past the window") {
    var now = 1000L
    val m = new GraftMetrics(() => now)
    m.heartbeat()
    var active = true
    var stops = 0
    val wd = new graft.metrics.StallWatchdog(m, () => active,
      () => { active = false; stops += 1 })
    // live wire: no action
    assert(!wd.check() && active && m.lastError.get() == null)
    // wire goes silent but still inside the 90 s window: no action
    now += m.LivenessWindowS
    assert(!wd.check() && active)
    // past the window: stop exactly once, stall recorded, readiness false
    now += 1
    assert(wd.check())
    assert(!active && stops == 1)
    assert(m.lastError.get() != null && m.lastError.get().contains("stalled"))
    assert(!m.ready)
    assert(wd.check() && stops == 1) // idempotent: no double stop
    // an inactive (already stopped) query is never "stalled"
    val m2 = new GraftMetrics(() => now)
    m2.lastActivityS.set(0) // ancient activity
    val wd2 = new graft.metrics.StallWatchdog(m2, () => false, () => fail("must not stop"))
    assert(!wd2.check())
  }

  test("idle (no-data) triggers keep liveness fresh — quiet-but-healthy never stalls") {
    // Spark 3.4+ posts QueryIdleEvent instead of QueryProgressEvent on
    // no-data triggers; the listener must treat a successful empty poll as
    // wire activity or the watchdog would crash-loop low-traffic sources.
    var now = 1000L
    val m = new GraftMetrics(() => now)
    m.heartbeat()
    val listener = new GraftQueryListener(m)
    var active = true
    val wd = new graft.metrics.StallWatchdog(m, () => active, () => active = false)
    // stream stays idle across several windows, posting only idle events
    (1 to 3).foreach { _ =>
      now += m.LivenessWindowS // at the edge of the window each time
      listener.onQueryIdle(null) // payload unused; ctor is private[sql]
      assert(!wd.check() && active, "idle heartbeat must prevent a stall")
    }
    assert(m.live && m.ready)
    // but if idle events STOP arriving (query thread wedged), stall fires
    now += m.LivenessWindowS + 1
    assert(wd.check() && !active)
  }
}
