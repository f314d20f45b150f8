package perfbench

import graft.config.StreamDef
import graft.metrics.{GraftMetrics, GraftQueryListener}
import graft.model.ChangeEvent
import graft.sink.FrameProducer
import graft.sink.kafka.{WireFrameProducer, WireProducer}
import graft.source.pgoutput.{Converter, PgOutputDecoder, RelationRegistry}
import graft.source.postgres.{CopyBothChannel, PgSession, ReplicationSpooler,
  SocketCopyBothChannel, WireBootstrap, WirePump}
import graft.source.wal.WalLog
import graft.streaming.{SnapshotDelivery, StreamingPipeline}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval: a call into a layer's public function, timed from
  * the rig's side of the call. */
final case class Span(id: Int, name: String, layer: String, startNs: Long,
    endNs: Long, parent: Int, thread: String) {
  def durNs: Long = endNs - startNs
}

/** Spans are kept in memory and written out when the run ends. Nesting on
  * one thread sets the parent; spans rebuilt from streaming progress events
  * get their parent by time containment (see [[Trace.streamingSpans]]). */
object Tracer {
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String, layer: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val parents = stack.get()
    stack.set(id :: parents)
    val t0 = System.nanoTime()
    try f finally {
      spans.add(Span(id, name, layer, t0, System.nanoTime(),
        parents.headOption.getOrElse(0), Thread.currentThread().getName))
      stack.set(parents)
    }
  }

  def record(name: String, layer: String, startNs: Long, endNs: Long,
      parent: Int = 0): Int = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, layer, startNs, endNs, parent, "progress"))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def relink(id: Int, parent: Int): Unit = {
    val s = spans.asScala.find(_.id == id).get
    spans.remove(s); spans.add(s.copy(parent = parent))
  }

  /** Self time per layer: a span's duration minus the part of it that its
    * child spans cover. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    ss.groupBy(_.layer).view.mapValues(g =>
      g.map(s => math.max(0L, s.durNs - childNs.getOrElse(s.id, 0L))).sum / 1e6).toMap
  }

  def write(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"run": "$runId", "id": ${s.id}, "parent": ${s.parent}, """ +
        s""""name": "${s.name}", "layer": "${s.layer}", "start_ns": ${s.startNs}, """ +
        s""""end_ns": ${s.endNs}, "thread": "${s.thread}"}""")
      w.newLine()
    } finally w.close()
  }
}

/** Collects each micro-batch's progress: Spark's own per-trigger layer view
  * (`durationMs`), stamped when the event arrives. */
final class ProgressCollector extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[(Long, Long, Map[String, Long])]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    batches.add((System.nanoTime(), e.progress.numInputRows,
      e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The delivery seam Main uses, timed per call. */
final class TimedProducer(inner: FrameProducer) extends FrameProducer {
  val calls = new ConcurrentLinkedQueue[Double]()
  override def produce(shaped: DataFrame): Unit = {
    val t0 = System.nanoTime()
    Tracer.span("produce", "sink")(inner.produce(shaped))
    calls.add((System.nanoTime() - t0) / 1e6)
  }
}

/** The replication channel, timed: time blocked in `read()` is read-wait;
  * the time from a message's return to the next `read()` call is the
  * spooler's work on that message (decode, append, status). */
final class TimedChannel(inner: CopyBothChannel) extends CopyBothChannel {
  val readNs = new AtomicLong(0)
  val spoolNs = new AtomicLong(0)
  val frames = new AtomicLong(0)
  @volatile var firstNs = 0L
  @volatile private var lastReturnNs = 0L
  override def read(): Array[Byte] = {
    val t0 = System.nanoTime()
    if (firstNs == 0L) firstNs = t0
    if (lastReturnNs != 0L) spoolNs.addAndGet(t0 - lastReturnNs)
    val m = inner.read()
    val t1 = System.nanoTime()
    readNs.addAndGet(t1 - t0)
    if (m != null) { frames.incrementAndGet(); lastReturnNs = t1 } else lastReturnNs = 0L
    m
  }
  override def write(msg: Array[Byte]): Unit = inner.write(msg)
  override def close(): Unit = inner.close()
}

/** The traced engine: the pipeline `graft.Main` runs, wired in-process with
  * the same public calls (session settings, metrics listener, wire
  * producer, bootstrap + snapshot delivery, spooler + pump, streaming
  * start with Main's defaults), with the producer and the replication
  * channel wrapped for timing. */
final class InProcessMain(streams: Seq[StreamDef], wal: String, ckpt: String,
    out: String, bootstrap: String, pgUri: Option[String], tmp: String) extends Engine {
  val launchedNanos: Long = System.nanoTime()
  val spark: SparkSession = Tracer.span("session", "proc") {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    SparkSession.builder()
      .appName("graft")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
  }
  val sessionS: Double = (System.nanoTime() - launchedNanos) / 1e9
  spark.sparkContext.setLogLevel("WARN")
  val metrics = new GraftMetrics
  spark.streams.addListener(new GraftQueryListener(metrics, streams))
  val progress = new ProgressCollector
  spark.streams.addListener(progress)
  val producer = new TimedProducer(WireFrameProducer.fromBootstrap(bootstrap).get)

  var bootstrapS = 0.0
  var snapshotRows = 0L
  var channel: Option[TimedChannel] = None
  private val spooler: Option[ReplicationSpooler] = pgUri.map { uri =>
    val ep = SocketCopyBothChannel.parseUri(uri)
    val delivery = new SnapshotDelivery(spark, streams, Some(producer), out)
    val session = PgSession.connect(ep)
    val t0 = System.nanoTime()
    val boot = Tracer.span("bootstrap", "postgres") {
      WireBootstrap.bootstrap(session, "perfbench_slot", "perfbench_pub", streams,
        confirmedLsn = WalLog.confirmed(wal), emit = delivery.emit,
        flushDelivery = () => delivery.flush())
    }
    bootstrapS = (System.nanoTime() - t0) / 1e9
    snapshotRows = delivery.deliveredCount
    val ch = new TimedChannel(session.startReplication("perfbench_slot",
      "perfbench_pub", ChangeEvent.lsnText(boot.startLsn)))
    channel = Some(ch)
    new ReplicationSpooler(ch, wal)
  }
  val query = StreamingPipeline.start(spark, wal, streams, ckpt, out,
    kafkaBootstrap = None, producer = Some(producer), triggerMs = 100L)
  private val pump = spooler.map { sp =>
    metrics.wireAttached()
    new WirePump(sp, onFatal = e => {
      metrics.lastError.compareAndSet(null, s"replication wire: ${e.getMessage}")
      query.stop()
    }, onTraffic = () => metrics.wireHeartbeat()).start()
  }
  var pumpEndNs = 0L

  def alive: Boolean = query.isActive
  def cpuSeconds: Double = Procfs.selfCpuSeconds
  def rssPeakMb: Double = Procfs.statusKb(ProcessHandle.current().pid(), "VmHWM") / 1024.0
  def eventsProcessed: Long = metrics.eventsProcessed.get()
  def batchesProcessed: Long = metrics.batchesProcessed.get()
  override def close(): Unit = {
    query.stop()
    pumpEndNs = System.nanoTime()
    pump.foreach(_.close())
    spooler.foreach(sp => try sp.close() catch { case _: Throwable => () })
  }
}

object Trace {
  /** The layers only the CDC workloads exercise. */
  val CdcLayers: Set[String] = Set("wal", "pgoutput", "postgres", "operators",
    "serialization", "streaming", "sink", "metrics", "bench")

  private def p50(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.pct(xs.toArray, 0.5)

  /** Rebuilds each trigger as a span with its phases as children (Spark
    * runs them in this order), and hangs every `produce` span under the
    * phase that contains it. */
  def streamingSpans(e: InProcessMain): Unit = {
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    val produce = Tracer.all.filter(_.name == "produce")
    e.progress.batches.asScala.foreach { case (atNs, _, d) =>
      val total = d.getOrElse("triggerExecution", 0L) * 1000000L
      val start = atNs - total
      val trig = Tracer.record("trigger", "streaming", start, atNs)
      var at = start
      phases.foreach { ph =>
        val ns = d.getOrElse(ph, 0L) * 1000000L
        val id = Tracer.record(ph, "streaming", at, at + ns, trig)
        produce.filter(p => p.startNs >= at - 1000000L && p.startNs < at + ns)
          .foreach(p => Tracer.relink(p.id, id))
        at += ns
      }
    }
  }

  /** Per-layer numbers of the in-process pipeline. */
  def engineMetrics(o: Rig.Outcome, engine: Engine): Unit = engine match {
    case e: InProcessMain =>
      val bs = e.progress.batches.asScala.toSeq
      val trig = bs.map(_._3.getOrElse("triggerExecution", 0L).toDouble)
      def phase(k: String) = p50(bs.map(_._3.getOrElse(k, 0L).toDouble))
      o.metric("streaming.batches", bs.size, "count")
      o.metric("streaming.events_per_batch",
        if (bs.isEmpty) 0.0 else bs.map(_._2).sum.toDouble / bs.size, "count")
      o.metric("streaming.trigger_ms_p50", p50(trig), "ms")
      o.metric("streaming.trigger_ms_p90",
        if (trig.isEmpty) 0.0 else Stats.pct(trig.toArray, 0.9), "ms")
      o.metric("streaming.latest_offset_ms_p50", phase("latestOffset"), "ms")
      o.metric("streaming.get_batch_ms_p50", phase("getBatch"), "ms")
      o.metric("streaming.query_planning_ms_p50", phase("queryPlanning"), "ms")
      o.metric("streaming.add_batch_ms_p50", phase("addBatch"), "ms")
      o.metric("streaming.wal_commit_ms_p50", phase("walCommit"), "ms")
      o.metric("streaming.commit_offsets_ms_p50", phase("commitOffsets"), "ms")
      o.metric("sink.produce_ms_p50", p50(e.producer.calls.asScala), "ms")
      o.metric("metrics.events_processed_total", e.eventsProcessed, "count")
      o.metric("metrics.batches_processed_total", e.batchesProcessed, "count")
      o.metric("proc.jvm_session_s", e.sessionS, "s")
      o.metric("postgres.bootstrap_s", e.bootstrapS, "s")
      o.metric("postgres.snapshot_rows_per_s",
        if (e.bootstrapS > 0) e.snapshotRows / e.bootstrapS else 0.0, "1/s")
      val (wait, spool) = e.channel match {
        case Some(ch) =>
          val wall = (math.max(e.pumpEndNs, System.nanoTime()) - ch.firstNs).toDouble
          (ch.readNs.get / wall, ch.spoolNs.get.toDouble / math.max(1L, ch.frames.get))
        case None => (0.0, 0.0) // no replication wire on this workload
      }
      o.metric("postgres.read_wait_share", wait, "ratio")
      o.metric("postgres.spool_ns_per_frame", spool, "ns")
      streamingSpans(e)
    case _ => sys.error("traced runs use the in-process engine")
  }

  /** The delivery counters of the broker, read once the stream is done. */
  def brokerMetrics(o: Rig.Outcome, produceRequests: Long, frames: Long,
      valueBytes: Long): Unit = {
    o.metric("sink.produce_requests", produceRequests, "count")
    o.metric("sink.records_per_request", frames.toDouble / math.max(1L, produceRequests), "count")
    o.metric("serialization.bytes_per_frame", valueBytes.toDouble / math.max(1L, frames), "B")
  }

  private val threadMx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated: Long = threadMx.getThreadAllocatedBytes(Thread.currentThread().getId)

  /** Single-threaded replay over the run's own WAL: each layer's public
    * function called in pipeline order, one layer at a time, so each
    * per-unit cost is measured alone. */
  def replay(o: Rig.Outcome, wal: Path, streams: Seq[StreamDef],
      spark: SparkSession, broker: graft.FakeKafkaBroker, drain: AckDrain,
      maxFrames: Int): Unit = Tracer.span("replay", "bench") {
    val dir = wal.toString
    val scanned = Tracer.span("scanFrames", "wal") {
      val it = WalLog.scanFrames(dir)
      var n = 0
      try while (it.hasNext && n < maxFrames) { it.next(); n += 1 } finally it.close()
      n
    }
    val scanNs = Tracer.all.filter(_.name == "scanFrames").map(_.durNs).sum
    val segments = WalLog.segmentFiles(dir)
    val t0 = System.nanoTime()
    val frames = Tracer.span("readFrom", "wal") {
      val it = WalLog.readFrom(dir, segments.head, 0L, Long.MaxValue)
      val b = mutable.ArrayBuffer.empty[WalLog.Frame]
      try while (it.hasNext && b.size < maxFrames) b += it.next() finally it.close()
      b
    }
    o.metric("wal.scan_ns_per_frame", scanNs.toDouble / math.max(1, scanned), "ns")
    val walBytes = frames.map(12L + _.payload.length).sum
    o.metric("wal.read_ns_per_frame", (System.nanoTime() - t0).toDouble / math.max(1, frames.size), "ns")

    val a0 = allocated
    val d0 = System.nanoTime()
    val msgs = Tracer.span("decode", "pgoutput")(frames.map(f => PgOutputDecoder.decode(f.payload)))
    val decodeNs = System.nanoTime() - d0
    val converter = new Converter(new RelationRegistry)
    val c0 = System.nanoTime()
    val events = Tracer.span("convert", "pgoutput") {
      frames.indices.flatMap(i => converter.convert(msgs(i), frames(i).lsn))
    }
    val convertNs = System.nanoTime() - c0
    val allocBytes = allocated - a0
    o.metric("pgoutput.decode_ns_per_msg", decodeNs.toDouble / math.max(1, msgs.size), "ns")
    o.metric("pgoutput.convert_ns_per_event", convertNs.toDouble / math.max(1, events.size), "ns")
    o.metric("pgoutput.alloc_bytes_per_event", allocBytes.toDouble / math.max(1, events.size), "B")
    o.metric("wal.bytes_per_event", walBytes.toDouble / math.max(1, events.size), "B")

    import spark.implicits._
    val df = events.map(e => (e.op, e.data, e.meta.source, e.meta.resource,
        e.meta.timestamp, e.meta.lsn, ChangeEvent.lsnValue(e.meta.lsn)))
      .toDF("op", "data", "source", "resource", "commit_ts", "lsn", "lsn_num")
      .cache()
    df.count()
    def routed = StreamingPipeline.kafkaFrame(df, streams)
    routed.write.format("noop").mode("overwrite").save() // warm the plan path
    val r0 = System.nanoTime()
    Tracer.span("kafkaFrame", "operators") {
      routed.write.format("noop").mode("overwrite").save()
    }
    o.metric("operators.route_serialize_ns_per_event",
      (System.nanoTime() - r0).toDouble / math.max(1, events.size), "ns")
    val out = routed.select("topic", "key", "value").collect()
    o.metric("operators.fanout_ratio", out.length.toDouble / math.max(1, events.size), "ratio")
    df.unpersist()

    // the broker acks these; count them instead of checking them
    val sends = new Check {
      override def deliver(a: Ack): Unit = synchronized(delivered += 1)
      override def expectedCount: Long = out.length
    }
    drain.check = sends
    val producer = new WireProducer("127.0.0.1", broker.port)
    val s0 = System.nanoTime()
    try Tracer.span("send+flush", "sink") {
      out.foreach(r => producer.send(r.getString(0),
        if (r.isNullAt(1)) null else r.getString(1).getBytes("UTF-8"),
        r.getString(2).getBytes("UTF-8")))
      producer.flush()
    } finally producer.close()
    o.metric("sink.send_ns_per_record",
      (System.nanoTime() - s0).toDouble / math.max(1, out.length), "ns")
    drain.quiesce()
    o.check(sends)
  }

  /** Self time per layer over every span of the run, and the span file. */
  def finish(a: Rig.Args, o: Rig.Outcome): Unit = {
    val self = Tracer.selfMsByLayer
    Seq("wal", "pgoutput", "postgres", "operators", "streaming", "sink", "query").foreach(l =>
      o.metric(s"$l.self_ms", self.getOrElse(l, 0.0), "ms"))
    o.metric("trace.spans", Tracer.all.size, "count")
    val f = a.records.resolve(s"spans-${a.workload}-seed${a.seed}-${Tracer.runId}.jsonl")
    Tracer.write(f)
    o.notes("spans_file") = f.toString
  }
}
