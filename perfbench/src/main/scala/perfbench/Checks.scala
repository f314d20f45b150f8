package perfbench

import graft.FakeKafkaBroker
import graft.model.ChangeEvent
import scala.collection.mutable

/** One delivered record as the broker received it, stamped on arrival. */
final case class Ack(topic: String, key: String, value: String, atNanos: Long) {
  private def field(name: String): String = {
    val i = value.lastIndexOf(name)
    require(i >= 0, s"record without $name")
    val from = i + name.length
    var to = from
    while (to < value.length && value.charAt(to) != '"' && value.charAt(to) != ',' &&
      value.charAt(to) != '}') to += 1
    value.substring(from, to)
  }
  def lsn: Long = ChangeEvent.lsnValue(field("\"lsn\":\""))
  def op: Char = value.charAt(7) // {"op":"X...
  def seq: Long = field("\"seq\":").toLong
}

/** Drains the broker's `received` queue on one thread and hands each record
  * to the current check, so the broker holds only what is in flight: memory
  * stays bounded however long the stream runs. */
final class AckDrain(broker: FakeKafkaBroker) extends AutoCloseable {
  @volatile var check: Check = _
  @volatile private var running = true
  /** Records and value bytes drained so far. */
  @volatile var records = 0L
  @volatile var valueBytes = 0L
  private val thread = new Thread(() => {
    while (running) {
      val r = broker.received.poll()
      if (r == null) Thread.sleep(1)
      else {
        val c = check
        val a = Ack(r._1, r._3, r._4, System.nanoTime())
        records += 1
        valueBytes += r._4.length
        if (c == null) sys.error(s"record with no check armed: ${r._4.take(120)}")
        else c.deliver(a)
      }
    }
  }, "perfbench-ack-drain")
  thread.setDaemon(true)
  thread.start()

  /** Wait until the queue is empty (every record the broker has received
    * has been checked). */
  def quiesce(): Unit = while (!broker.received.isEmpty) Thread.sleep(1)

  override def close(): Unit = { running = false; thread.join(2000) }
}

/** Output checks of one Main launch. Every failure is counted; the sum over
  * all checks of a run is the run's `failed`. */
abstract class Check {
  var delivered = 0L
  var unexpected = 0L
  var duplicates = 0L
  var keyMismatch = 0L
  var orderViolations = 0L
  /** Per-key last LSN at the broker: per-key LSN order must hold. */
  private val lastLsn = mutable.HashMap.empty[(String, String), Long]
  protected def orderCheck(a: Ack, lsn: Long): Unit = {
    val k = (a.topic, a.key)
    val last = lastLsn.getOrElse(k, Long.MinValue)
    if (lsn < last) orderViolations += 1 else lastLsn(k) = lsn
  }
  def deliver(a: Ack): Unit
  def expectedCount: Long
  def missing: Long = expectedCount - delivered
  def failures: Long = synchronized {
    missing + unexpected + duplicates + keyMismatch + orderViolations
  }
  def describe: String = synchronized {
    s"expected=$expectedCount delivered=$delivered missing=$missing " +
      s"unexpected=$unexpected duplicates=$duplicates keyMismatch=$keyMismatch " +
      s"orderViolations=$orderViolations"
  }
}

/** Backlog deliveries: the expected (topic, lsn, key) set comes from the
  * generator. Latency is measured from the publish of the record's chunk,
  * per chunk. */
final class BacklogCheck(topics: Vector[String]) extends Check {
  // (topic index, lsn) -> expected key; delivered entries are removed
  private val pending = new mutable.LongMap[Long]()
  private var expected = 0L
  // chunk publish times: (first lsn, publish nanos), ascending, and the
  // ack latencies of each chunk's frames
  private val chunkStarts = mutable.ArrayBuffer.empty[(Long, Long)]
  private val chunkLatencies = mutable.ArrayBuffer.empty[DoubleBuf]
  @volatile var lastAckNanos = 0L

  private def slot(topic: Int, lsn: Long): Long = (topic.toLong << 56) | lsn

  def expect(e: Gen.Expected): Unit = synchronized {
    pending(slot(e.topic, e.lsn)) = e.key
    expected += 1
  }
  def chunkPublished(firstLsn: Long, atNanos: Long): Unit = synchronized {
    chunkStarts += firstLsn -> atNanos
    chunkLatencies += new DoubleBuf
  }
  /** Ack latencies (ms) of chunk `i`, in publish order. */
  def latenciesMs(i: Int): Array[Double] = synchronized(chunkLatencies(i).toArray)
  override def expectedCount: Long = synchronized(expected)
  def remaining: Long = synchronized(pending.size.toLong)

  override def deliver(a: Ack): Unit = synchronized {
    val t = topics.indexOf(a.topic)
    val lsn = a.lsn
    val s = slot(t, lsn)
    pending.get(s) match {
      case Some(key) =>
        pending.remove(s)
        delivered += 1
        if (a.key != key.toString) keyMismatch += 1
        orderCheck(a, lsn)
        lastAckNanos = a.atNanos
        var i = chunkStarts.length - 1
        while (i >= 0 && chunkStarts(i)._1 > lsn) i -= 1
        if (i >= 0) chunkLatencies(i) += (a.atNanos - chunkStarts(i)._2) / 1e6
      case None =>
        if (t < 0) unexpected += 1 else duplicates += 1
    }
  }
}

/** Live deliveries: identified by (op, seq of the delivered row), since the
  * server assigns the LSNs. Latency runs from the change's due time. */
final class LiveCheck(startNanos: () => Long) extends Check {
  private final case class Want(dueOffUs: Long, key: Long)
  private val pending = new mutable.LongMap[Want]()
  private val seen = new mutable.LongMap[Unit]()
  private var expected = 0L
  /** (due offset µs, latency ms) of every delivered non-snapshot change. */
  val latencies = mutable.ArrayBuffer.empty[(Long, Double)]
  @volatile var readsDelivered = 0L
  @volatile var lastReadAckNanos = 0L

  def expect(c: Gen.LiveChange): Unit = synchronized {
    pending(Gen.identity(c.op, c.seq)) = Want(c.dueOffUs, c.key)
    expected += 1
  }
  override def expectedCount: Long = synchronized(expected)

  override def deliver(a: Ack): Unit = synchronized {
    if (a.topic != "cdc.records") { unexpected += 1; return }
    val id = Gen.identity(a.op, a.seq)
    pending.get(id) match {
      case Some(w) =>
        pending.remove(id); seen(id) = ()
        delivered += 1
        if (a.key != w.key.toString) keyMismatch += 1
        orderCheck(a, a.lsn)
        if (a.op == 'R') { readsDelivered += 1; lastReadAckNanos = a.atNanos }
        else latencies += w.dueOffUs ->
          (a.atNanos - (startNanos() + w.dueOffUs * 1000L)) / 1e6
      case None =>
        if (seen.contains(id)) duplicates += 1 else unexpected += 1
    }
  }
}

/** Growable primitive double buffer. */
final class DoubleBuf {
  private var a = new Array[Double](1024)
  var size = 0
  def +=(v: Double): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
    a(size) = v; size += 1
  }
  def toArray: Array[Double] = java.util.Arrays.copyOf(a, size)
}

object Stats {
  /** Nearest-rank percentile of `xs` (p in 0..1). */
  def pct(xs: Array[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs.toArray, 0.5)
}
