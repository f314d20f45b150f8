package perfbench

import graft.FakeKafkaBroker
import graft.source.postgres.PgServerHarness
import java.nio.file.Files
import java.util.concurrent.locks.LockSupport

/** `live_stream`: freshness on a live wire. Postgres starts with a
  * pre-populated table that the engine snapshots as READ rows; then one
  * session commits small mixed transactions open-loop at a fixed rate. Each
  * change carries its due time; latency runs from due time to broker ack,
  * so a stall also counts against the changes queued behind it. */
object LiveStream {
  val InitialRows = 10000
  val TxnRows = 10
  val EventsPerS = 1000
  /** Changes due in the first seconds after the snapshot are checked but
    * not timed: the stream's first ~25 triggers run JIT-cold. */
  val WarmInS = 8
  val PgUriEnv = "PERFBENCH_PG_URI"

  def run(a: Rig.Args, o: Rig.Outcome): Unit = {
    val sql = new Gen.LiveSql(a.seed, InitialRows, TxnRows, EventsPerS)
    val (initSql, reads) = sql.initial()
    val nTxn = (WarmInS + a.seconds) * EventsPerS / TxnRows
    val txns = (0 until nTxn).map(k => sql.txn(k))
    o.require({
      val again = new Gen.LiveSql(a.seed, InitialRows, TxnRows, EventsPerS)
      again.initial()._1 == initSql && (0 until nTxn).forall(k => again.txn(k)._1 == txns(k)._1)
    }, "same seed generated different SQL")

    val pg = PgServerHarness.start().getOrElse(sys.error("postgres did not start"))
    val broker = new FakeKafkaBroker(Map("cdc.records" -> 4), retain = true)
    val drain = new AckDrain(broker)
    val session = pg.session()
    try {
      o.notes("postgres") = session.simpleQuery("SHOW server_version").rows.head.head
      session.simpleQuery(Gen.createTableSql)
      initSql.foreach(session.simpleQuery)

      @volatile var genStart = Long.MaxValue
      val check = new LiveCheck(() => genStart)
      reads.foreach(check.expect)
      if (a.expectWrong) {
        // a deliberately wrong expectation: one key off by one
        val r = reads.head
        check.expect(r.copy(key = r.key + 1))
      }
      drain.check = check
      val bootstrap = s"wire://127.0.0.1:${broker.port}"
      val uri = s"postgres://${pg.superUser}@${pg.host}:${pg.port}/postgres"
      val dir = a.runDir.resolve("launch")
      val (wal, ckpt, out, tmp) = (dir.resolve("wal"), dir.resolve("ckpt"),
        dir.resolve("out"), dir.resolve("tmp"))
      Rig.mkdirs(wal, tmp)
      val engine: Engine =
        if (a.trace) new InProcessMain(Gen.liveStreams, wal.toString,
          ckpt.toString, out.toString, bootstrap, Some(uri), tmp.toString)
        else {
          val cfg = dir.resolve("config.json")
          Files.writeString(cfg, Rig.configJson(Gen.liveStreams,
            Some((PgUriEnv, "perfbench_slot", "perfbench_pub"))))
          new MainChild(a.engineCp, cfg, wal.toString, ckpt.toString,
            out.toString, tmp.toString,
            Map("GRAFT_KAFKA_BOOTSTRAP" -> bootstrap, PgUriEnv -> uri),
            dir.resolve("main.log"))
        }
      try {
        Rig.await(150, "snapshot READs acked")(
          check.readsDelivered >= InitialRows || !engine.alive)
        val setup = (check.lastReadAckNanos - engine.launchedNanos) / 1e9
        o.metric(if (a.trace) "proc.setup_s" else "setup_s", setup, "s")

        // open loop: transaction k is due at genStart + k * interval
        val intervalNs = sql.txnIntervalUs * 1000L
        val warmTxns = WarmInS * EventsPerS / TxnRows
        val late = new DoubleBuf
        var cpu0 = 0.0
        genStart = System.nanoTime() + 20000000L
        txns.indices.foreach { k =>
          val due = genStart + k * intervalNs
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          if (k == warmTxns) cpu0 = engine.cpuSeconds
          late += (now - due) / 1e6
          txns(k)._2.foreach(check.expect)
          session.simpleQuery(txns(k)._1)
        }
        val allAcked = Rig.await(60, "every change acked")(check.missing == 0 || !engine.alive)
        val cpu = engine.cpuSeconds - cpu0
        val windowFromUs = WarmInS * 1000000L
        val timed = check.synchronized(check.latencies.filter(_._1 >= windowFromUs).toArray)
        o.require(allAcked && timed.nonEmpty, "live changes never fully acked")
        val lat = timed.map(_._2)
        val events = timed.length
        // one p50 and p99 per second of due time, reported as the median
        // over the seconds: a stall of a few seconds moves only its own
        // windows, as a bad chunk does on backlog_drain
        val perSecond = timed.groupBy(_._1 / 1000000L).values
          .map(_.map(_._2)).filter(_.length >= EventsPerS / 2).toSeq
        val lastAckMs = timed.map { case (due, ms) => due / 1000.0 + ms }.max
        val prefix = if (a.trace) "trace." else ""
        o.metric(prefix + "events_per_s", events / ((lastAckMs - windowFromUs / 1000.0) / 1000.0), "1/s")
        o.metric(prefix + "ack_p50_ms", Stats.median(perSecond.map(Stats.pct(_, 0.5))), "ms")
        o.metric(prefix + "ack_p99_ms", Stats.median(perSecond.map(Stats.pct(_, 0.99))), "ms")
        o.notes("second_ack_p50_ms") = perSecond.map(Stats.pct(_, 0.5).round).mkString(",")
        o.notes("window_ack_p50_ms") = f"${Stats.pct(lat, 0.5)}%.1f"
        o.notes("window_ack_p99_ms") = f"${Stats.pct(lat, 0.99)}%.1f"
        o.metric(prefix + "cpu_us_per_event", cpu * 1e6 / events, "us")
        val lateP99 = Stats.pct(late.toArray, 0.99)
        o.notes("generator_late_p99_ms") = f"$lateP99%.3f"
        o.notes("timed_events") = events.toString
        if (a.trace) {
          o.metric("bench.generator_late_p99_ms", lateP99, "ms")
          o.metric("proc.rss_peak_mb", engine.rssPeakMb, "MB")
        }
        val streamed = check.delivered - check.readsDelivered
        Rig.await(15, "/metrics to count every streamed frame")(
          engine.eventsProcessed == streamed)
        o.require(engine.eventsProcessed == streamed,
          s"/metrics graft_events_processed_total=${engine.eventsProcessed} " +
            s"but the broker received $streamed streamed frames")
        if (a.trace) Trace.engineMetrics(o, engine)
      } finally {
        engine.close()
        drain.quiesce()
        o.check(check)
        if (check.failures > 0 && !a.trace)
          System.err.println(BacklogDrain.tail(dir.resolve("main.log")))
      }
      if (a.trace) {
        Trace.brokerMetrics(o, broker.produceRequests.get, drain.records, drain.valueBytes)
        Trace.replay(o, wal, Gen.liveStreams, engine.asInstanceOf[InProcessMain].spark,
          broker, drain, maxFrames = 100000)
      }
      Procfs.rmRf(dir)
    } finally {
      try session.close() catch { case _: Throwable => () }
      drain.close()
      broker.close()
      pg.stop()
    }
  }
}
