package graft

import graft.config.StreamDef
import graft.model.{ChangeEvent, Op}
import graft.source.pgoutput.{Converter, PgOutputDecoder, RelationRegistry}
import graft.source.postgres.{PgSession, Preflight, Replication, ReplicationSpooler, SnapshotBootstrap, WireBootstrap}
import graft.source.wal.WalLog
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** The full wire stack against a REAL PostgreSQL walsender — the live tier
  * that FakeWalsender approximates (reference: integration + e2e tiers,
  * src/source/postgres/integration_test.zig, src/e2e/snapshot_test.zig).
  * What only a real server can prove:
  *
  *  - the actual SASL SCRAM-SHA-256 exchange, server signature included;
  *  - `CREATE_REPLICATION_SLOT … USE_SNAPSHOT` visibility: the snapshot scan
  *    sees exactly the pre-boundary rows, the stream exactly the
  *    post-boundary DML — the exactly-once handoff, on genuine snapshot
  *    machinery rather than our fake's frozen tables;
  *  - real pgoutput framing from a real decoder plugin (Relation/Begin/
  *    Insert/Update/Delete/Commit), REPLICA IDENTITY FULL old rows,
  *    in-stream schema change via a fresh Relation message;
  *  - standby-status feedback actually moving `confirmed_flush_lsn` in
  *    `pg_replication_slots`.
  *
  * Skips cleanly (assume) where no postgres binaries exist.
  */
class PgLiveWireSpec extends AnyFunSuite {

  private def live(): Unit =
    assume(LivePostgres.available, "no usable postgres server in this environment")

  private def lsn(text: String): Long = ChangeEvent.lsnValue(text)

  /** Pump the spooler until `want` decoded data events (or timeout), then
    * convert spooled frames exactly the way the DSv2 source does. */
  private def drainEvents(sp: ReplicationSpooler, walDir: String, want: Int,
      timeoutMs: Long = 20000): Seq[(ChangeEvent, Long)] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def decodeAll(): Seq[(ChangeEvent, Long)] = {
      val reg = new RelationRegistry
      val conv = new Converter(reg)
      WalLog.read(walDir, afterLsn = -1L, untilLsn = Long.MaxValue).flatMap {
        f => conv.convert(PgOutputDecoder.decode(f.payload), f.lsn)
          .map(_ -> f.lsn)
      }.toSeq
    }
    var out = Seq.empty[(ChangeEvent, Long)]
    while (out.size < want && System.nanoTime() < deadline) {
      sp.pump()
      out = decodeAll()
      if (out.size < want) Thread.sleep(100)
    }
    out
  }

  test("live auth: trust, SCRAM with verified server signature, wrong " +
      "password refused with the server's SQLSTATE") {
    live()
    val s = LivePostgres.session()
    try {
      val r = s.simpleQuery(
        "SELECT current_user AS u, current_setting('wal_level') AS wl")
      assert(r.single("u").contains("graft"))
      assert(r.single("wl").contains("logical"))
      // replication-command grammar on the same session (walsender mode)
      val ident = s.simpleQuery("IDENTIFY_SYSTEM")
      assert(ident.single("systemid").exists(_.nonEmpty))
      assert(ident.single("xlogpos").exists(p => lsn(p) > 0L))
    } finally s.close()

    // SCRAM against the real SASL implementation: our client verifies the
    // server signature derived from the genuine SCRAM verifier
    val sc = PgSession.connect(LivePostgres.endpoint(
      LivePostgres.ScramUser, Some(LivePostgres.ScramPassword)))
    try assert(sc.simpleQuery("SELECT current_user AS u").single("u")
      .contains(LivePostgres.ScramUser))
    finally sc.close()

    val bad = intercept[IllegalStateException] {
      PgSession.connect(LivePostgres.endpoint(
        LivePostgres.ScramUser, Some("wrong-password")))
    }
    assert(bad.getMessage.contains("28P01"), s"got: ${bad.getMessage}")
  }

  test("live TLS: SSLRequest + JSSE handshake against real postgres ssl=on; " +
      "verify-full accepts the IP-SAN cert; a foreign root is refused") {
    live()
    assume(LivePostgres.serverCert.isDefined, "server booted without TLS")
    val cert = LivePostgres.serverCert.get.toString
    import graft.source.postgres.PgTls

    // require: encrypted, unauthenticated — and provably ON TLS per the
    // server's own accounting (pg_stat_ssl for this backend)
    def tlsEndpoint(mode: String, root: Option[String]) =
      LivePostgres.endpoint(LivePostgres.SuperUser, None)
        .copy(ssl = PgTls.SslConfig(mode, root))
    val sReq = PgSession.connect(tlsEndpoint("require", None))
    try {
      val r = sReq.simpleQuery(
        "SELECT ssl::text AS on FROM pg_stat_ssl WHERE pid = pg_backend_pid()")
      assert(r.single("on").contains("true"), "session not actually on TLS")
      // the replication command set works over the encrypted session
      assert(sReq.simpleQuery("IDENTIFY_SYSTEM").single("systemid")
        .exists(_.nonEmpty))
    } finally sReq.close()

    // verify-full: chain verified against the self-signed root AND the
    // dialed IP checked against the certificate's IP SAN
    val sFull = PgSession.connect(tlsEndpoint("verify-full", Some(cert)))
    try assert(sFull.simpleQuery("SELECT 1 AS one").single("one").contains("1"))
    finally sFull.close()

    // verify-ca with a DIFFERENT root: handshake must fail, never downgrade
    val foreignDir = Files.createTempDirectory("livepg-foreign")
    val foreign = graft.source.postgres.PgServerHarness
      .selfSignedCert(foreignDir, "127.0.0.1", "foreign-ca")
    assume(foreign.isDefined, "no openssl for the foreign-root case")
    intercept[Exception] {
      PgSession.connect(tlsEndpoint("verify-ca", Some(foreign.get._1.toString)))
    }
  }

  test("live cold start: snapshot READs see exactly pre-boundary rows; " +
      "CopyBoth streams exactly the post-boundary DML; confirmed_flush_lsn " +
      "advances on standby status") {
    live()
    val admin = LivePostgres.session()
    admin.simpleQuery("CREATE TABLE public.live_orders(" +
      "o_id bigint PRIMARY KEY, status text, total double precision)")
    admin.simpleQuery("ALTER TABLE public.live_orders REPLICA IDENTITY FULL")
    admin.simpleQuery("INSERT INTO public.live_orders VALUES " +
      "(1, 'new', 10.5), (2, 'paid', 20)")

    val streams = Seq(StreamDef("live_orders", "public.live_orders",
      Seq("insert", "update", "delete", "read"), "cdc.live_orders"))
    val s = LivePostgres.session()
    val reads = ArrayBuffer.empty[ChangeEvent]
    var flushed = false
    val boot = WireBootstrap.bootstrap(s, "graft_live_slot", "graft_live_pub",
      streams, confirmedLsn = 0L, emit = reads += _,
      flushDelivery = () => flushed = true)
    val snappedAt = boot.outcome match {
      case SnapshotBootstrap.Snapshotted(pt, res) =>
        assert(res == Seq("public.live_orders")); pt
      case other => fail(s"expected Snapshotted, got $other")
    }
    assert(snappedAt > 0L && boot.startLsn == snappedAt)
    assert(flushed)
    // exactly the two pre-boundary rows, stamped with the consistent point,
    // column values promoted from the REAL RowDescription OIDs
    assert(reads.map(_.data).toSeq == Seq(
      """{"o_id":1,"status":"new","total":10.5}""",
      """{"o_id":2,"status":"paid","total":20.0}"""))
    assert(reads.forall(e => e.op == Op.Read && lsn(e.meta.lsn) == snappedAt))
    // catalog state on the real catalog
    assert(admin.simpleQuery("SELECT 1 FROM pg_publication " +
      "WHERE pubname = 'graft_live_pub'").rows.nonEmpty)
    assert(admin.simpleQuery("SELECT 1 FROM pg_replication_slots " +
      "WHERE slot_name = 'graft_live_slot'").rows.nonEmpty)

    // post-boundary DML — these must arrive via the STREAM only
    admin.simpleQuery(
      "INSERT INTO public.live_orders VALUES (3, 'new', NULL)")
    admin.simpleQuery(
      "UPDATE public.live_orders SET status = 'shipped' WHERE o_id = 1")
    admin.simpleQuery("DELETE FROM public.live_orders WHERE o_id = 2")

    val walDir = Files.createTempDirectory("live_wal").toString
    val ch = s.startReplication("graft_live_slot", "graft_live_pub",
      ChangeEvent.lsnText(boot.startLsn), readTimeoutMs = 300)
    val sp = new ReplicationSpooler(ch, walDir)
    try {
      val evs = drainEvents(sp, walDir, want = 3)
      assert(evs.size == 3, s"expected 3 streamed events, got ${evs.map(_._1)}")
      val (e1, l1) = evs(0); val (e2, l2) = evs(1); val (e3, l3) = evs(2)
      assert(e1.op == Op.Insert &&
        e1.data == """{"o_id":3,"status":"new","total":null}""")
      assert(e2.op == Op.Update &&
        e2.data == """{"o_id":1,"status":"shipped","total":10.5}""")
      // REPLICA IDENTITY FULL: the delete carries the complete old row
      assert(e3.op == Op.Delete &&
        e3.data == """{"o_id":2,"status":"paid","total":20.0}""")
      assert(evs.forall { case (e, l) => l > 0L &&
        e.meta.resource == "public.live_orders" }, "stream frame sanity")
      assert(l1 <= l2 && l2 <= l3, "WAL order preserved")
      // commit timestamps come from the real BEGIN messages — now-ish
      val nowS = System.currentTimeMillis() / 1000
      assert(evs.forall { case (e, _) => math.abs(e.meta.timestamp - nowS) < 3600 })

      // at-least-once handoff: confirm after (simulated) sink delivery,
      // send standby status, and watch the REAL slot advance
      WalLog.confirm(walDir, l3)
      sp.sendStatus()
      var advanced = false
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (!advanced && System.nanoTime() < deadline) {
        val c = admin.simpleQuery("SELECT confirmed_flush_lsn AS c FROM " +
          "pg_replication_slots WHERE slot_name = 'graft_live_slot'")
          .single("c")
        advanced = c.exists(v => v.nonEmpty && lsn(v) >= l3)
        if (!advanced) { sp.sendStatus(); Thread.sleep(200) }
      }
      assert(advanced, "confirmed_flush_lsn never reached the delivered LSN")
    } finally { sp.close(); admin.close() }
  }

  test("live restart: ledger-complete resume streams from the confirmed LSN " +
      "without rescanning") {
    live()
    val streams = Seq(StreamDef("live_orders", "public.live_orders",
      Seq("insert", "update", "delete", "read"), "cdc.live_orders"))
    val s = LivePostgres.session()
    try {
      val boot = WireBootstrap.bootstrap(s, "graft_live_slot", "graft_live_pub",
        streams, confirmedLsn = 0xABCDEL,
        emit = _ => fail("resume must not re-snapshot"),
        flushDelivery = () => ())
      assert(boot.outcome == SnapshotBootstrap.Resumed)
      assert(boot.startLsn == 0xABCDEL)
    } finally s.close()
  }

  test("live preflight: a valid setup passes and bootstraps on the same " +
      "session; every misconfiguration is reported at once; an erroring " +
      "probe fails only its own check") {
    live()
    val admin = LivePostgres.session()
    admin.simpleQuery("CREATE TABLE public.live_pf_full(" +
      "id bigint PRIMARY KEY, acct bigint)")
    admin.simpleQuery("ALTER TABLE public.live_pf_full REPLICA IDENTITY FULL")
    admin.simpleQuery("INSERT INTO public.live_pf_full VALUES (1, 10)")
    admin.simpleQuery("CREATE TABLE public.live_pf_default(" +
      "id bigint PRIMARY KEY, v text)")
    val s = LivePostgres.session()
    try {
      // misconfigured: a missing table (its routing key cannot exist
      // either), a missing routing-key column, a delete stream on a table
      // with the default identity — one exception lists all of them
      val bad = intercept[Preflight.PreflightException] {
        Preflight.requirePass(s, Seq(
          StreamDef("gone", "public.live_pf_missing", Seq("insert"), "t1"),
          StreamDef("badkey", "public.live_pf_full", Seq("insert"), "t2",
            routingKey = "no_such_col"),
          StreamDef("dels", "live_pf_default", Seq("insert", "delete"), "t3")))
      }
      assert(bad.failures.map(_.check.name) == Seq(
        "table_exists[public.live_pf_missing]",
        "routing_key[public.live_pf_missing.id]",
        "routing_key[public.live_pf_full.no_such_col]",
        "replica_identity[public.live_pf_default]"))
      assert(bad.getMessage.contains(
        "Fix: ALTER TABLE public.live_pf_default REPLICA IDENTITY FULL"))

      // a probe the server rejects (too many dotted names makes
      // to_regclass raise) fails its own checks; the checks after it run
      val errored = Preflight.run(s, Seq(
        StreamDef("dotted", "a.b.c.d", Seq("insert"), "t4"),
        StreamDef("gone", "public.live_pf_missing", Seq("insert"), "t5")))
      assert(errored.map(_.check.name) == Seq("table_exists[a.b.c.d]",
        "routing_key[a.b.c.d.id]", "table_exists[public.live_pf_missing]",
        "routing_key[public.live_pf_missing.id]"))
      assert(errored.take(2).forall(_.detail.contains("query failed")))
      assert(errored.drop(2).forall(_.detail == "check returned false"))

      // valid: passes, and the same session then bootstraps (USE_SNAPSHOT
      // after the probes' transactions), exactly as graft.Main runs it
      val good = Seq(
        StreamDef("full", "public.live_pf_full",
          Seq("read", "insert", "update", "delete"), "t6", routingKey = "acct"),
        StreamDef("plain", "live_pf_default", Seq("insert", "update"), "t7"))
      Preflight.requirePass(s, good)
      val reads = ArrayBuffer.empty[ChangeEvent]
      val boot = WireBootstrap.bootstrap(s, "graft_pf_slot", "graft_pf_pub",
        good, confirmedLsn = 0L, emit = reads += _, flushDelivery = () => ())
      assert(boot.outcome.isInstanceOf[SnapshotBootstrap.Snapshotted])
      assert(reads.map(_.data).toSeq == Seq("""{"id":1,"acct":10}"""))
      s.simpleQuery(Replication.dropSlot("graft_pf_slot"))
      s.simpleQuery(Replication.dropPublication("graft_pf_pub"))
    } finally { s.close(); admin.close() }
  }

  test("live full pipeline: postgres DML → wire pump → DSv2 source → sink; " +
      "confirmed_flush_lsn advances only after the sink epoch") {
    live()
    import graft.source.postgres.WirePump
    import graft.streaming.StreamingPipeline
    val admin = LivePostgres.session()
    admin.simpleQuery("CREATE TABLE public.live_pipe(" +
      "id bigint PRIMARY KEY, v text)")
    admin.simpleQuery("ALTER TABLE public.live_pipe REPLICA IDENTITY FULL")
    val streams = Seq(StreamDef("live_pipe", "public.live_pipe",
      Seq("insert", "update", "delete"), "cdc.live_pipe"))
    val s = LivePostgres.session()
    val boot = WireBootstrap.bootstrap(s, "graft_pipe_slot", "graft_pipe_pub",
      streams, confirmedLsn = 0L, emit = _ => (), flushDelivery = () => ())
    val walDir = Files.createTempDirectory("live_pipe_wal").toString
    val out = Files.createTempDirectory("live_pipe_out").toString
    val ckpt = Files.createTempDirectory("live_pipe_ckpt").toString
    val ch = s.startReplication("graft_pipe_slot", "graft_pipe_pub",
      ChangeEvent.lsnText(boot.startLsn), readTimeoutMs = 200)
    val sp = new ReplicationSpooler(ch, walDir)
    val spark = SparkTestBase.spark
    val q = StreamingPipeline.start(spark, walDir, streams, ckpt, out,
      kafkaBootstrap = None, triggerMs = 50L)
    @volatile var wireDead: Throwable = null
    val pump = new WirePump(sp,
      onFatal = e => { wireDead = e; q.stop() }).start()
    try {
      admin.simpleQuery(
        "INSERT INTO public.live_pipe VALUES (1, 'a'), (2, 'b')")
      admin.simpleQuery("UPDATE public.live_pipe SET v = 'a2' WHERE id = 1")
      admin.simpleQuery("DELETE FROM public.live_pipe WHERE id = 2")
      // Main's drain-to-quiet shape: the wire spools asynchronously, so
      // keep processing until the sink holds all four events
      val deadline = System.nanoTime() + 60L * 1000000000L
      var n = 0L
      while (n < 4 && System.nanoTime() < deadline && wireDead == null) {
        q.processAllAvailable()
        n = try spark.read.parquet(out).count()
          catch { case _: Throwable => 0L }
        if (n < 4) Thread.sleep(200)
      }
      // Spark commits source offsets for epoch N during epoch N+1 (same as
      // the built-in Kafka source), so nudge one more change through to
      // force a later epoch and wait for the confirmed-LSN file to appear
      admin.simpleQuery("INSERT INTO public.live_pipe VALUES (3, 'c')")
      while ((WalLog.confirmed(walDir) == 0L || n < 5) &&
          System.nanoTime() < deadline && wireDead == null) {
        q.processAllAvailable()
        n = try spark.read.parquet(out).count()
          catch { case _: Throwable => 0L }
        Thread.sleep(100)
      }
      q.stop()
      assert(wireDead == null, s"wire died: $wireDead")
      val vals = spark.read.parquet(out)
        .select(org.apache.spark.sql.functions.col("topic"),
          org.apache.spark.sql.functions.col("value"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(vals.size == 5, s"expected 5 sink rows, got $vals")
      assert(vals.forall(_._1 == "cdc.live_pipe"))
      assert(vals.count(_._2.contains("\"op\":\"INSERT\"")) == 3)
      assert(vals.count(_._2.contains("\"op\":\"UPDATE\"")) == 1)
      assert(vals.count(_._2.contains("\"op\":\"DELETE\"")) == 1)
      assert(vals.exists(_._2.contains("""{"id":1,"v":"a2"}""")),
        "update must carry the new row")
      assert(vals.exists(_._2.contains("""{"id":2,"v":"b"}""")),
        "delete must carry the full old row (REPLICA IDENTITY FULL)")

      // the DSv2 commit() wrote the confirmed LSN after the sink epoch;
      // the spooler's status update carries it to the real server
      val confirmed = WalLog.confirmed(walDir)
      assert(confirmed > 0L, "sink epoch must have committed a confirmed LSN")
      sp.sendStatus()
      var advanced = false
      val d2 = System.nanoTime() + 10L * 1000000000L
      while (!advanced && System.nanoTime() < d2) {
        val c = admin.simpleQuery("SELECT confirmed_flush_lsn AS c FROM " +
          "pg_replication_slots WHERE slot_name = 'graft_pipe_slot'")
          .single("c")
        advanced = c.exists(v => v.nonEmpty && lsn(v) >= confirmed)
        if (!advanced) { sp.sendStatus(); Thread.sleep(200) }
      }
      assert(advanced,
        "server's confirmed_flush_lsn never reached the sink-committed LSN")
    } finally {
      pump.close()
      try sp.close() catch { case _: Throwable => () }
      admin.close()
    }
  }

  test("live crash/restart: wire death mid-backlog, resume from the " +
      "confirmed LSN — zero gaps, redelivery collapses on the key") {
    live()
    import graft.source.postgres.WirePump
    import graft.streaming.StreamingPipeline
    import org.apache.spark.sql.functions.{col, get_json_object}
    val admin = LivePostgres.session()
    admin.simpleQuery("CREATE TABLE public.live_restart(" +
      "id bigint PRIMARY KEY, v text)")
    val streams = Seq(StreamDef("live_restart", "public.live_restart",
      Seq("insert"), "cdc.live_restart"))
    val spark = SparkTestBase.spark
    val walDir = Files.createTempDirectory("live_rs_wal").toString
    val out = Files.createTempDirectory("live_rs_out").toString
    val ckpt = Files.createTempDirectory("live_rs_ckpt").toString

    // phase 1: bootstrap, 2000-row backlog, drain PART of it, then die
    val s1 = LivePostgres.session()
    val boot1 = WireBootstrap.bootstrap(s1, "graft_rs_slot", "graft_rs_pub",
      streams, confirmedLsn = 0L, emit = _ => (), flushDelivery = () => ())
    admin.simpleQuery("INSERT INTO public.live_restart " +
      "SELECT i, 'r' || i FROM generate_series(1, 1000) AS g(i)")
    admin.simpleQuery("INSERT INTO public.live_restart " +
      "SELECT i, 'r' || i FROM generate_series(1001, 2000) AS g(i)")
    val ch1 = s1.startReplication("graft_rs_slot", "graft_rs_pub",
      ChangeEvent.lsnText(boot1.startLsn), readTimeoutMs = 200)
    val sp1 = new ReplicationSpooler(ch1, walDir)
    val q1 = StreamingPipeline.start(spark, walDir, streams, ckpt, out,
      kafkaBootstrap = None, triggerMs = 50L, maxEventsPerBatch = 300)
    val pump1 = new WirePump(sp1, onFatal = _ => ()).start()
    def sinkCount(): Long =
      try spark.read.parquet(out).count() catch { case _: Throwable => 0L }
    val d1 = System.nanoTime() + 60L * 1000000000L
    while (sinkCount() < 700 && System.nanoTime() < d1) Thread.sleep(100)
    val atCrash = sinkCount()
    assert(atCrash >= 700, s"phase 1 never reached mid-backlog: $atCrash")
    // crash: stop the query and kill the wire mid-backlog
    q1.stop()
    pump1.close()
    try sp1.close() catch { case _: Throwable => () }
    assert(atCrash < 2000, "crash must land mid-backlog for the test to bite")

    // phase 2: Main's restart path — bootstrap resumes from the engine's
    // confirmed LSN (ledgerless here: stream-only config), the server
    // re-sends everything past its confirmed_flush, duplicates below the
    // checkpoint boundary are filtered, the tail delivers exactly once
    val s2 = LivePostgres.session()
    val boot2 = WireBootstrap.bootstrap(s2, "graft_rs_slot", "graft_rs_pub",
      streams, confirmedLsn = WalLog.confirmed(walDir),
      emit = _ => fail("resume must not snapshot"), flushDelivery = () => ())
    assert(boot2.outcome == SnapshotBootstrap.Resumed)
    val ch2 = s2.startReplication("graft_rs_slot", "graft_rs_pub",
      ChangeEvent.lsnText(boot2.startLsn), readTimeoutMs = 200)
    val sp2 = new ReplicationSpooler(ch2, walDir)
    val q2 = StreamingPipeline.start(spark, walDir, streams, ckpt, out,
      kafkaBootstrap = None, triggerMs = 50L, maxEventsPerBatch = 300)
    val pump2 = new WirePump(sp2, onFatal = _ => ()).start()
    try {
      val ids = () => spark.read.parquet(out).select(
        get_json_object(col("value"), "$.data.id").cast("long").as("id"))
      val d2 = System.nanoTime() + 90L * 1000000000L
      while (ids().distinct().count() < 2000 && System.nanoTime() < d2)
        Thread.sleep(200)
      q2.processAllAvailable()
      q2.stop()
      // the reference's check-gaps contract: every id exactly present —
      // no gaps; redelivery is allowed (at-least-once) but must collapse
      // to one row per key for a deduping consumer
      val dist = ids().distinct()
      assert(dist.count() == 2000, "gap: some backlog row never delivered")
      val mm = dist.agg(org.apache.spark.sql.functions.min("id"),
        org.apache.spark.sql.functions.max("id")).head()
      assert(mm.getLong(0) == 1L && mm.getLong(1) == 2000L)
      // and the WAL layer itself did not double-deliver: (topic, lsn) is
      // unique even across the crash/restart overlap
      val dup = spark.read.parquet(out).groupBy("topic", "lsn").count()
        .filter(col("count") > 1).count()
      assert(dup == 0, "the same WAL position was delivered twice")
    } finally {
      pump2.close()
      try sp2.close() catch { case _: Throwable => () }
      admin.close()
    }
  }

  test("live in-stream DDL: ALTER TABLE ADD COLUMN re-sends Relation; " +
      "subsequent inserts carry the new column") {
    live()
    val admin = LivePostgres.session()
    admin.simpleQuery(
      "CREATE TABLE public.live_evolve(id bigint PRIMARY KEY, v text)")
    admin.simpleQuery("INSERT INTO public.live_evolve VALUES (1, 'a')")
    val streams = Seq(StreamDef("live_evolve", "public.live_evolve",
      Seq("insert", "update"), "cdc.live_evolve")) // no read: stream-only
    val s = LivePostgres.session()
    val boot = WireBootstrap.bootstrap(s, "graft_evolve_slot",
      "graft_evolve_pub", streams, confirmedLsn = 0L,
      emit = _ => fail("stream-only bootstrap must not snapshot"),
      flushDelivery = () => ())
    assert(boot.outcome.isInstanceOf[SnapshotBootstrap.NoSnapshotNeeded])

    admin.simpleQuery("INSERT INTO public.live_evolve VALUES (2, 'b')")
    admin.simpleQuery("ALTER TABLE public.live_evolve ADD COLUMN note text")
    admin.simpleQuery(
      "INSERT INTO public.live_evolve VALUES (3, 'c', 'fresh')")

    val walDir = Files.createTempDirectory("live_wal_ddl").toString
    val ch = s.startReplication("graft_evolve_slot", "graft_evolve_pub",
      ChangeEvent.lsnText(boot.startLsn), readTimeoutMs = 300)
    val sp = new ReplicationSpooler(ch, walDir)
    try {
      val evs = drainEvents(sp, walDir, want = 2)
      assert(evs.size == 2, s"expected 2 events, got ${evs.map(_._1)}")
      assert(evs(0)._1.data == """{"id":2,"v":"b"}""")
      // the real decoder plugin announced the widened relation in-stream
      assert(evs(1)._1.data == """{"id":3,"v":"c","note":"fresh"}""")
    } finally { sp.close(); admin.close() }
  }

  test("live delta snapshot: a read-opted table ADDED after bootstrap gets " +
      "boundary-scanned READs for itself only; the stream resumes unbroken") {
    live()
    val admin = LivePostgres.session()
    admin.simpleQuery(
      "CREATE TABLE public.live_da(a bigint PRIMARY KEY, v text)")
    admin.simpleQuery(
      "CREATE TABLE public.live_db(b bigint PRIMARY KEY, w text)")
    admin.simpleQuery("INSERT INTO public.live_da VALUES (1, 'a1')")
    admin.simpleQuery("INSERT INTO public.live_db VALUES (10, 'b1')")

    val sA = Seq(StreamDef("da", "public.live_da",
      Seq("insert", "read"), "cdc.da"))
    val s1 = LivePostgres.session()
    val reads1 = ArrayBuffer.empty[ChangeEvent]
    val b1 = WireBootstrap.bootstrap(s1, "graft_delta_slot",
      "graft_delta_pub", sA, confirmedLsn = 0L, emit = reads1 += _,
      flushDelivery = () => ())
    assert(b1.outcome.isInstanceOf[SnapshotBootstrap.Snapshotted])
    assert(reads1.map(_.meta.resource).distinct == Seq("public.live_da"))
    s1.close() // simulated restart; the slot and ledger survive on-server

    // operator adds a second read-opted stream; the engine resumes from its
    // confirmed position (here: the original consistent point)
    val sAB = sA :+ StreamDef("db", "public.live_db",
      Seq("insert", "read"), "cdc.db")
    val s2 = LivePostgres.session()
    val reads2 = ArrayBuffer.empty[ChangeEvent]
    val b2 = WireBootstrap.bootstrap(s2, "graft_delta_slot",
      "graft_delta_pub", sAB, confirmedLsn = b1.startLsn,
      emit = reads2 += _, flushDelivery = () => ())
    b2.outcome match {
      case SnapshotBootstrap.DeltaSnapshotted(_, res) =>
        assert(res == Seq("public.live_db"), s"delta set: $res")
      case other => fail(s"expected DeltaSnapshotted, got $other")
    }
    // ONLY the new table re-scanned — no duplicate READs for live_da —
    // and it carries its pre-existing row
    assert(reads2.map(_.meta.resource).distinct == Seq("public.live_db"))
    assert(reads2.exists(_.data == """{"b":10,"w":"b1"}"""), reads2.map(_.data))
    assert(b2.startLsn == b1.startLsn)

    // the widened publication streams BOTH tables from here on
    admin.simpleQuery("INSERT INTO public.live_da VALUES (2, 'a2')")
    admin.simpleQuery("INSERT INTO public.live_db VALUES (11, 'b2')")
    val walDir = Files.createTempDirectory("live_wal_delta").toString
    val ch = s2.startReplication("graft_delta_slot", "graft_delta_pub",
      ChangeEvent.lsnText(b2.startLsn), readTimeoutMs = 300)
    val sp = new ReplicationSpooler(ch, walDir)
    try {
      val evs = drainEvents(sp, walDir, want = 2)
      assert(evs.map(_._1.data) == Seq(
        """{"a":2,"v":"a2"}""", """{"b":11,"w":"b2"}"""),
        s"streamed: ${evs.map(_._1.data)}")
    } finally { sp.close(); admin.close() }
  }

  test("live types: real-server text forms promote by OID — numeric NaN " +
      "stays a string, non-finite floats stay text, bool/ints/floats are " +
      "JSON scalars, bytea/array/jsonb/uuid verbatim") {
    live()
    val admin = LivePostgres.session()
    admin.simpleQuery(
      "CREATE TABLE public.live_types(id bigint PRIMARY KEY, n numeric, " +
        "f float8, b bool, by bytea, j jsonb, arr text[], u uuid, r real)")
    val streams = Seq(StreamDef("live_types", "public.live_types",
      Seq("insert"), "cdc.live_types"))
    val s = LivePostgres.session()
    val boot = WireBootstrap.bootstrap(s, "graft_types_slot",
      "graft_types_pub", streams, confirmedLsn = 0L,
      emit = _ => fail("stream-only bootstrap must not snapshot"),
      flushDelivery = () => ())
    admin.simpleQuery("INSERT INTO public.live_types VALUES (" +
      "1, 'NaN'::numeric, 'Infinity'::float8, true, '\\x0102fe'::bytea, " +
      "'{\"k\": [1, \"x\"]}'::jsonb, ARRAY['a','b c'], " +
      "'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11'::uuid, 1.5)")
    admin.simpleQuery("INSERT INTO public.live_types VALUES (" +
      "2, 12345678901234567890.123456789, '-Infinity'::float8, false, " +
      "NULL, NULL, NULL, NULL, -2.25)")

    val walDir = Files.createTempDirectory("live_wal_types").toString
    val ch = s.startReplication("graft_types_slot", "graft_types_pub",
      ChangeEvent.lsnText(boot.startLsn), readTimeoutMs = 300)
    val sp = new ReplicationSpooler(ch, walDir)
    try {
      val evs = drainEvents(sp, walDir, want = 2)
      assert(evs.size == 2, s"expected 2 events, got ${evs.size}")
      val d1 = evs(0)._1.data
      // numeric NaN must be the STRING "NaN" (a bare NaN is invalid JSON);
      // float8 Infinity likewise; bool is a bare JSON true; real is a bare
      // JSON number; bytea keeps the server's \x hex form (escaped)
      assert(d1.contains("\"n\":\"NaN\""), d1)
      assert(d1.contains("\"f\":\"Infinity\""), d1)
      assert(d1.contains("\"b\":true"), d1)
      assert(d1.contains("\"by\":\"\\\\x0102fe\""), d1)
      assert(d1.contains("\"r\":1.5"), d1)
      assert(d1.contains("\"u\":\"a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11\""), d1)
      // jsonb verbatim as an escaped JSON string value
      assert(d1.contains("\"j\":\"{\\\"k\\\": [1, \\\"x\\\"]}\""), d1)
      // pg array text form, inner quotes escaped
      assert(d1.contains("\"arr\":\"{a,\\\"b c\\\"}\""), d1)
      val d2 = evs(1)._1.data
      // numeric keeps FULL precision as a string — the reference's
      // decimal.handling.mode=string spirit (no double round-trip)
      assert(d2.contains("\"n\":\"12345678901234567890.123456789\""), d2)
      assert(d2.contains("\"f\":\"-Infinity\""), d2)
      assert(d2.contains("\"b\":false"), d2)
      assert(d2.contains("\"by\":null") && d2.contains("\"u\":null"), d2)
      assert(d2.contains("\"r\":-2.25"), d2)
    } finally { sp.close(); admin.close() }
  }

  test("live TOAST: a ~1.3MB out-of-line value streams intact; unchanged " +
      "TOAST on UPDATE arrives as the placeholder, not a fake NULL") {
    live()
    val admin = LivePostgres.session()
    admin.simpleQuery(
      "CREATE TABLE public.live_toast(id bigint PRIMARY KEY, big text, tag text)")
    val streams = Seq(StreamDef("live_toast", "public.live_toast",
      Seq("insert", "update"), "cdc.live_toast"))
    val s = LivePostgres.session()
    val boot = WireBootstrap.bootstrap(s, "graft_toast_slot",
      "graft_toast_pub", streams, confirmedLsn = 0L,
      emit = _ => fail("stream-only bootstrap must not snapshot"),
      flushDelivery = () => ())
    // ~1.28 MB of md5 hex — random enough that TOAST stores it out-of-line
    // instead of inline-compressed, so the walsender emits a single >1MB
    // pgoutput Insert frame (no other test pushes a frame this large
    // through the real wire + spooler + WalLog path)
    admin.simpleQuery("INSERT INTO public.live_toast " +
      "SELECT 1, string_agg(md5(g::text), ''), 'v1' " +
      "FROM generate_series(1, 40000) g")
    // touches only `tag`: with default replica identity the new tuple
    // carries 'u' (unchanged TOAST) for `big`
    admin.simpleQuery("UPDATE public.live_toast SET tag = 'v2' WHERE id = 1")

    val walDir = Files.createTempDirectory("live_wal_toast").toString
    val ch = s.startReplication("graft_toast_slot", "graft_toast_pub",
      ChangeEvent.lsnText(boot.startLsn), readTimeoutMs = 300)
    val sp = new ReplicationSpooler(ch, walDir)
    try {
      val evs = drainEvents(sp, walDir, want = 2, timeoutMs = 30000)
      assert(evs.size == 2, s"expected 2 events, got ${evs.size}")
      val ins = evs(0)._1
      assert(ins.op == Op.Insert)
      // full fidelity: 40000 md5s × 32 hex chars inside the JSON envelope
      assert(ins.data.length > 1280000,
        s"TOASTed value truncated: data is ${ins.data.length} bytes")
      assert(ins.data.contains("\"tag\":\"v1\""))
      val upd = evs(1)._1
      assert(upd.op == Op.Update)
      assert(upd.data.contains("\"tag\":\"v2\""))
      assert(upd.data.contains(
        s"""\"big\":\"${ChangeEvent.ToastPlaceholder}\""""),
        s"unchanged TOAST must surface the placeholder; got " +
          upd.data.take(200))
    } finally { sp.close(); admin.close() }
  }

  test("live endurance crash/restart: spooler killed mid-drain of a 500k " +
      "backlog, reopened from the spooled position — exact retained-event " +
      "accounting, zero gaps, duplicates only from the boundary transaction") {
    live()
    val admin = LivePostgres.session()
    admin.simpleQuery("CREATE TABLE public.live_endurance(" +
      "id bigint PRIMARY KEY, payload text)")
    val streams = Seq(StreamDef("live_endurance", "public.live_endurance",
      Seq("insert"), "cdc.live_endurance"))
    val s1 = LivePostgres.session()
    val boot = WireBootstrap.bootstrap(s1, "graft_end_slot", "graft_end_pub",
      streams, confirmedLsn = 0L,
      emit = _ => fail("stream-only bootstrap must not snapshot"),
      flushDelivery = () => ())
    // 500k rows in 50k-row transactions (the reference load generator's
    // set-based shape, ~100-byte payloads) — the same backlog scale the
    // check-gaps contract runs against (reference CHANGELOG.md:27-30)
    val n = 500000
    var lsnMid = 0L
    (0 until n by 50000).foreach { lo =>
      admin.simpleQuery("INSERT INTO public.live_endurance " +
        s"SELECT i, repeat('x', 100) FROM " +
        s"generate_series(${lo + 1}, ${lo + 50000}) AS g(i)")
      if (lo + 50000 == n / 2)
        lsnMid = lsn(admin.simpleQuery(
          "SELECT pg_current_wal_lsn() AS lsn").single("lsn").get)
    }
    val endLsn = lsn(admin.simpleQuery(
      "SELECT pg_current_wal_lsn() AS lsn").single("lsn").get)

    val walDir = Files.createTempDirectory("live_end_wal").toString
    // phase 1: drain ~half the backlog, then die. The spooler never buffers
    // a transaction — frames hit the segment file as they arrive — so the
    // durable position at death is whatever was flushed, and that is the
    // resume point (lastReceivedLsn equals it after flush()).
    val ch1 = s1.startReplication("graft_end_slot", "graft_end_pub",
      ChangeEvent.lsnText(boot.startLsn), readTimeoutMs = 1000)
    val sp1 = new ReplicationSpooler(ch1, walDir)
    val d1 = System.nanoTime() + 120L * 1000000000L
    while (sp1.lastReceivedLsn < lsnMid && System.nanoTime() < d1)
      sp1.pumpOnce()
    assert(sp1.lastReceivedLsn >= lsnMid, "phase 1 never reached mid-backlog")
    sp1.flush()
    val resumeFrom = sp1.lastReceivedLsn
    assert(resumeFrom < endLsn, "crash must land mid-backlog to bite")
    try sp1.close() catch { case _: Throwable => () }

    // phase 2: reopen the SAME spool dir from the spooled position. The
    // walsender replays from the boundary transaction's BEGIN (a tx is
    // filtered by its COMMIT position), so the only legal duplicates are
    // that one transaction's already-spooled prefix.
    val s2 = LivePostgres.session()
    val ch2 = s2.startReplication("graft_end_slot", "graft_end_pub",
      ChangeEvent.lsnText(resumeFrom), readTimeoutMs = 1000)
    val sp2 = new ReplicationSpooler(ch2, walDir)
    try {
      val d2 = System.nanoTime() + 180L * 1000000000L
      while (sp2.lastReceivedLsn < endLsn && System.nanoTime() < d2)
        sp2.pumpOnce()
      sp2.flush()
      assert(sp2.lastReceivedLsn >= endLsn, "phase 2 never drained the tail")

      // exact retained-event accounting over the union of both phases'
      // segments: decode every spooled frame through the production
      // converter and count per-id deliveries
      val reg = new RelationRegistry
      val conv = new Converter(reg)
      val idRe = """"id":(-?\d+)""".r
      val counts = new scala.collection.mutable.LongMap[Int](n * 2)
      var frames = 0L
      WalLog.read(walDir, afterLsn = -1L, untilLsn = Long.MaxValue)
        .foreach { f =>
          frames += 1
          conv.convert(PgOutputDecoder.decode(f.payload), f.lsn).foreach { e =>
            if (e.op == Op.Insert)
              idRe.findFirstMatchIn(e.data).foreach { m =>
                val id = m.group(1).toLong
                counts(id) = counts.getOrElse(id, 0) + 1
              }
          }
        }
      // zero gaps: every one of the 500k ids retained at least once
      assert(counts.size == n, s"gap: retained ${counts.size} of $n ids " +
        s"(spooled $frames frames)")
      // at-least-once, tightly: an id is delivered once, or twice when its
      // transaction straddled the crash — never more, and the doubled ids
      // are bounded by one 50k-row transaction
      val over = counts.valuesIterator.count(_ > 2)
      assert(over == 0, s"$over ids delivered more than twice")
      val dup = counts.valuesIterator.count(_ == 2)
      assert(dup <= 50000, s"duplicates ($dup) exceed one boundary " +
        "transaction's worth")
    } finally {
      try sp2.close() catch { case _: Throwable => () }
      admin.close()
    }
  }
}
