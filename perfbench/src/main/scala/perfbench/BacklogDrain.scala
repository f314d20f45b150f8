package perfbench

import graft.FakeKafkaBroker
import graft.source.wal.WalLog
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable

/** `backlog_drain`: catch-up after downtime. The seeded generator renders a
  * backlog as pgoutput WAL; a primer (already in the WAL dir at launch)
  * proves the path is up, then the backlog is published chunk by chunk
  * (`WalLog.publishStaged`) into the running engine, which drains it into
  * the broker. A chunk is one load-stand transaction (10,000 inserts,
  * 5,000 updates, 1,666 deletes). Each chunk is published when the one
  * before it is fully acked, until `--seconds` of draining have been
  * measured. */
object BacklogDrain {
  /** The primer: one transaction of 1,200 inserts (2,000 changes). */
  val PrimerInserts = 1200
  val ChunkInserts: Int = Gen.BatchSize
  /** Chunks drained (and checked) before the timed window: the first
    * ~130k events after start run JIT-cold. */
  val WarmChunks = 8
  /** The pre-rendered pool covers this rate for the whole window; if the
    * engine drains faster the window ends early (the rate stays exact). */
  val PoolCeilingEventsPerS = 25000

  final case class Chunk(file: Path, events: Int, firstLsn: Long,
      expected: Array[Gen.Expected], bytes: Long)

  /** Renders the primer and the chunk pool; the determinism check renders
    * the primer and first chunk again and compares bytes. */
  final class Inputs(seed: Long, seconds: Int, dir: Path) {
    val gen = new Gen.Backlog(seed, Gen.backlogStreams)
    private def render(g: Gen.Backlog, name: String, inserts: Int): Chunk = {
      val first = g.position + 1
      val buf = mutable.ArrayBuffer.empty[Gen.Expected]
      val f = dir.resolve(name)
      val (events, bytes) = g.renderTxn(inserts, f, buf += _)
      Chunk(f, events, first, buf.toArray, bytes)
    }
    Files.createDirectories(dir)
    val primer: Chunk = render(gen, "primer.wal", PrimerInserts)
    val pool: IndexedSeq[Chunk] = {
      val chunkEvents = ChunkInserts * (1 + Gen.UpdateRatio + Gen.DeleteRatio)
      val n = WarmChunks +
        math.max(2, math.ceil(seconds * PoolCeilingEventsPerS / chunkEvents).toInt)
      (1 to n).map(i => render(gen, f"$i%08d.chunk", ChunkInserts))
    }
    /** Same seed, fresh generator: byte-identical primer and first chunk. */
    def deterministic: Boolean = {
      val again = new Gen.Backlog(seed, Gen.backlogStreams)
      val p = render(again, "primer.again", PrimerInserts)
      val c = render(again, "chunk.again", ChunkInserts)
      val same = Files.mismatch(p.file, primer.file) == -1 &&
        Files.mismatch(c.file, pool.head.file) == -1
      Files.delete(p.file); Files.delete(c.file)
      same
    }
  }

  def run(a: Rig.Args, o: Rig.Outcome): Unit = {
    val r0 = System.nanoTime()
    val inputs = new Inputs(a.seed, a.seconds, a.runDir.resolve("stage"))
    o.notes("render_s") = f"${(System.nanoTime() - r0) / 1e9}%.2f"
    o.require(inputs.deterministic, "same seed rendered different WAL bytes")
    val topics = inputs.gen.topics
    val broker = new FakeKafkaBroker(topics.map(_ -> 4).toMap, retain = true)
    val drain = new AckDrain(broker)
    val bootstrap = s"wire://127.0.0.1:${broker.port}"
    val dir = a.runDir.resolve("launch")
    val (wal, ckpt, out, tmp) = (dir.resolve("wal"), dir.resolve("ckpt"),
      dir.resolve("out"), dir.resolve("tmp"))
    try {
      Rig.mkdirs(wal, tmp)
      Files.copy(inputs.primer.file, wal.resolve("00000000.wal"))
      val check = new BacklogCheck(topics)
      inputs.primer.expected.foreach(check.expect)
      if (a.expectWrong) {
        // a deliberately wrong expectation: one key off by one
        val e = inputs.primer.expected.head
        check.expect(e.copy(key = e.key + 1))
      }
      drain.check = check
      Rig.phase("inputs rendered; launching the engine")
      val engine: Engine =
        if (a.trace) new InProcessMain(Gen.backlogStreams, wal.toString,
          ckpt.toString, out.toString, bootstrap, None, tmp.toString)
        else {
          val cfg = dir.resolve("config.json")
          Files.writeString(cfg, Rig.configJson(Gen.backlogStreams, None))
          new MainChild(a.engineCp, cfg, wal.toString, ckpt.toString,
            out.toString, tmp.toString,
            Map("GRAFT_KAFKA_BOOTSTRAP" -> bootstrap), dir.resolve("main.log"))
        }
      try {
        Rig.await(150, "primer acked")(check.remaining == 0 || !engine.alive)
        val setup = (check.lastAckNanos - engine.launchedNanos) / 1e9
        o.metric(if (a.trace) "proc.setup_s" else "setup_s", setup, "s")
        Rig.phase("primer acked")
        measure(a, o, inputs, engine, check, wal)
        Rig.phase("window done")
        val frames = check.delivered
        Rig.await(15, "/metrics to count every delivered frame")(
          engine.eventsProcessed == frames)
        o.require(engine.eventsProcessed == frames,
          s"/metrics graft_events_processed_total=${engine.eventsProcessed} " +
            s"but the broker received $frames frames")
        if (a.trace) Trace.engineMetrics(o, engine)
      } finally {
        Rig.phase("stopping the engine")
        engine.close()
        Rig.phase("engine stopped")
        drain.quiesce()
        o.check(check)
        if (check.failures > 0 && !a.trace) System.err.println(tail(dir.resolve("main.log")))
      }
      if (a.trace) {
        Trace.brokerMetrics(o, broker.produceRequests.get, drain.records, drain.valueBytes)
        Trace.replay(o, wal, Gen.backlogStreams, engine.asInstanceOf[InProcessMain].spark,
          broker, drain, maxFrames = 100000)
        // this workload has no replication wire and no open-loop generator
        o.metric("bench.generator_late_p99_ms", 0.0, "ms")
      }
    } finally {
      drain.close()
      broker.close()
      Procfs.rmRf(dir)
      Procfs.rmRf(a.runDir.resolve("stage"))
    }
  }

  private def measure(a: Rig.Args, o: Rig.Outcome, inputs: Inputs,
      engine: Engine, check: BacklogCheck, wal: Path): Unit = {
    var i = 0
    def drainChunk(): Long = {
      val c = inputs.pool(i)
      c.expected.foreach(check.expect)
      Files.move(c.file, wal.resolve(f"${i + 1}%08d.stg"), StandardCopyOption.ATOMIC_MOVE)
      val t = System.nanoTime()
      check.chunkPublished(c.firstLsn, t)
      WalLog.publishStaged(wal.toString)
      i += 1
      if (Rig.await(60, s"chunk $i acked")(check.remaining == 0 || !engine.alive) &&
        check.remaining == 0) check.lastAckNanos - t else -1L
    }
    var ok = true
    val chunkMs = mutable.ArrayBuffer.empty[Long]
    while (ok && i < WarmChunks) { val ns = drainChunk(); chunkMs += ns / 1000000; ok = ns > 0 }
    Rig.phase("warm-in done")
    val cpu0 = engine.cpuSeconds
    val w0 = System.nanoTime()
    var events = 0L
    val rates = mutable.ArrayBuffer.empty[Double]
    while (ok && i < inputs.pool.size && System.nanoTime() - w0 < a.seconds * 1000000000L) {
      val ns = drainChunk()
      chunkMs += ns / 1000000
      ok = ns > 0
      if (ok) {
        events += inputs.pool(i - 1).events
        rates += inputs.pool(i - 1).events / (ns / 1e9)
      }
    }
    val cpu = engine.cpuSeconds - cpu0
    o.require(ok && rates.nonEmpty, "backlog never fully drained")
    val lat = (WarmChunks until i).map(check.latenciesMs).filter(_.nonEmpty)
    val timed = inputs.pool.slice(WarmChunks, i)
    val walBytes = timed.map(_.bytes).sum
    o.notes("chunks") = i.toString
    o.notes("chunk_ms") = chunkMs.mkString(",")
    o.notes("backlog_events") = events.toString
    o.notes("wal_bytes") = walBytes.toString
    // each chunk is one catch-up episode; the median episode is robust to
    // a burst of CPU steal on a shared host
    val prefix = if (a.trace) "trace." else ""
    o.metric(prefix + "events_per_s", Stats.median(rates.toSeq), "1/s")
    o.metric(prefix + "ack_p50_ms", Stats.median(lat.map(Stats.pct(_, 0.5))), "ms")
    o.metric(prefix + "ack_p99_ms", Stats.median(lat.map(Stats.pct(_, 0.99))), "ms")
    o.metric(prefix + "cpu_us_per_event", cpu * 1e6 / events, "us")
    if (a.trace) o.metric("proc.rss_peak_mb", engine.rssPeakMb, "MB")
  }

  def tail(p: Path, n: Int = 40): String =
    if (!Files.exists(p)) "" else {
      val ls = Files.readAllLines(p)
      ls.subList(math.max(0, ls.size - n), ls.size).toArray.mkString("\n")
    }
}
