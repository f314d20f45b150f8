package perfbench

import graft.config.StreamDef
import graft.model.ChangeEvent
import graft.source.pgoutput.{PgOutputEncoder, PgOutputMessage}
import graft.source.pgoutput.PgOutputMessage._
import graft.source.pgoutput.PgOutputMessages._
import graft.source.wal.WalLog
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The seeded generator both CDC workloads share. Rows take the load
  * stand's `benchmark_records` shape (id, account_id, numeric_field,
  * status, payload jsonb, created_at, updated_at) plus the two columns the
  * rig needs to check deliveries: `seq` (the generator's change number,
  * unique per change) and `due_off_us` (when the change was due, as an
  * offset from the run's start; 0 in the backlog).
  *
  * Ops follow a 60/30/10 insert/update/delete mix; updates and deletes
  * carry the full old row (REPLICA IDENTITY FULL). The backlog renders the
  * stand's set-based transactions; the live stream commits small ones. Routing keys
  * (`account_id`) are Zipf-skewed and a pure function of the row id, so a
  * row keeps its key across its changes. Everything derives from the seed:
  * the same seed renders byte-identical WAL and SQL.
  */
object Gen {
  final case class Table(relId: Int, name: String) {
    def resource: String = s"public.$name"
  }

  /** Backlog tables: one read by two streams, one by one stream, one by
    * none (its events are decoded and dropped by routing). The load stand
    * writes one table; the split over three tables and its 50/30/20
    * weights are this benchmark's own choice, not taken from any measured
    * traffic. */
  val Records = Table(16401, "benchmark_records")
  val Accounts = Table(16402, "benchmark_accounts")
  val Logs = Table(16403, "benchmark_logs")
  val backlogTables: Seq[(Table, Int)] = Seq(Records -> 50, Accounts -> 30, Logs -> 20)

  val backlogStreams: Seq[StreamDef] = Seq(
    StreamDef("records", Records.resource, Seq("insert", "update", "delete"),
      "cdc.records", routingKey = "account_id"),
    StreamDef("records_audit", Records.resource, Seq("insert", "delete"),
      "cdc.records_audit", routingKey = "id"),
    StreamDef("accounts", Accounts.resource, Seq("insert", "update", "delete"),
      "cdc.accounts", routingKey = "account_id"))

  /** The live table (same shape and name) is read by one stream, snapshot
    * included. */
  val liveStreams: Seq[StreamDef] = Seq(
    StreamDef("records", Records.resource, Seq("read", "insert", "update", "delete"),
      "cdc.records", routingKey = "account_id"))

  /** (name, type OID) in column order. */
  val columns: Seq[(String, Int)] = Seq(
    "id" -> 20, "seq" -> 20, "due_off_us" -> 20, "account_id" -> 20,
    "numeric_field" -> 1700, "status" -> 25, "payload" -> 3802,
    "created_at" -> 1184, "updated_at" -> 1184)

  val createTableSql: String =
    """CREATE TABLE public.benchmark_records (
      |  id BIGINT PRIMARY KEY, seq BIGINT NOT NULL, due_off_us BIGINT NOT NULL,
      |  account_id BIGINT NOT NULL, numeric_field NUMERIC(20,6) NOT NULL,
      |  status TEXT NOT NULL, payload JSONB NOT NULL,
      |  created_at TIMESTAMPTZ NOT NULL, updated_at TIMESTAMPTZ NOT NULL);
      |ALTER TABLE public.benchmark_records REPLICA IDENTITY FULL""".stripMargin

  /** The load stand's knobs (BASELINE.md, "Load-generator workload
    * shape"): 128 bytes of JSONB padding per row and 10,000 inserts per
    * transaction, set-based. The stand's UPDATE_RATIO and DELETE_RATIO
    * default to 0; 0.5 and 1/6 give the 60/30/10 insert/update/delete mix. */
  val RowBytes = 128
  val BatchSize = 10000
  val UpdateRatio = 0.5
  val DeleteRatio = 1.0 / 6
  /** Existing rows per backlog table that updates and deletes draw from. */
  val RowWindow = 30000

  /** Routing-key skew: Zipf(1.1) over 20,000 accounts. The stand's
    * `account_id` distribution is not documented; these two values are this
    * benchmark's own choice, not taken from any measured traffic. */
  val AccountCount = 20000
  val ZipfS = 1.1
  private val statuses = Array("new", "active", "paused", "closed")
  private val BaseUs = 1767225600000000L // 2026-01-01T00:00:00Z

  /** Zipf(s) CDF over account ranks. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(AccountCount)(i => 1.0 / math.pow(i + 1, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A row's routing key: Zipf-skewed, fixed for the row's lifetime. */
  def accountOf(seed: Long, table: Int, id: Long): Long = {
    val u = (mix(seed * 31 + table * 1000003L + id) >>> 11).toDouble / (1L << 53)
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    (if (i >= 0) i else math.min(-i - 1, AccountCount - 1)) + 1L
  }

  /** One row version. */
  final case class Row(id: Long, seq: Long, dueOffUs: Long, account: Long,
      numeric: String, status: String, payload: String, createdUs: Long,
      updatedUs: Long) {
    def texts: Vector[String] = Vector(id.toString, seq.toString,
      dueOffUs.toString, account.toString, numeric, status, payload,
      ts(createdUs), ts(updatedUs))
    def sqlValues: String = {
      def q(s: String) = "'" + s.replace("'", "''") + "'"
      s"($id,$seq,$dueOffUs,$account,$numeric,${q(status)},${q(payload)}," +
        s"${q(ts(createdUs))},${q(ts(updatedUs))})"
    }
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)
  private var tsSecond = Long.MinValue
  private var tsPrefix = ""
  /** timestamptz text, as Postgres prints it in a UTC session. */
  def ts(us: Long): String = {
    val s = us / 1000000L
    if (s != tsSecond) {
      tsSecond = s; tsPrefix = tsFmt.format(java.time.Instant.ofEpochSecond(s)) + "."
    }
    tsPrefix + pad((us % 1000000L).toInt, 6) + "+00"
  }

  private def pad(v: Int, width: Int): String = {
    val s = Integer.toString(v)
    if (s.length >= width) s else "000000".substring(0, width - s.length) + s
  }

  private def numeric(rnd: java.util.SplittableRandom): String =
    Integer.toString(rnd.nextInt(100000000)) + "." + pad(rnd.nextInt(1000000), 6)

  /** A row payload of `bytes` characters of JSON (the stand's ROW_BYTES
    * padding), drawn from the generator's random stream. */
  private def payload(rnd: java.util.SplittableRandom, bytes: Int): String = {
    val sb = new StringBuilder(bytes + 40)
    sb.append("{\"v\": ").append(rnd.nextInt(1000000)).append(", \"pad\": \"")
    while (sb.length < bytes - 2) sb.append(('a' + rnd.nextInt(26)).toChar)
    sb.append("\"}").toString
  }

  def freshRow(rnd: java.util.SplittableRandom, seed: Long, table: Int,
      id: Long, seq: Long, dueOffUs: Long, nowUs: Long): Row =
    Row(id, seq, dueOffUs, accountOf(seed, table, id),
      numeric(rnd),
      statuses(rnd.nextInt(statuses.length)), payload(rnd, RowBytes), nowUs, nowUs)

  def changedRow(rnd: java.util.SplittableRandom, old: Row, seq: Long,
      dueOffUs: Long, nowUs: Long): Row =
    old.copy(seq = seq, dueOffUs = dueOffUs,
      numeric = numeric(rnd),
      status = statuses(rnd.nextInt(statuses.length)), updatedUs = nowUs)

  // ---------------------------------------------------------------- routing

  /** The Kafka key a stream extracts: its routing column of the delivered
    * row (the new row for updates, the old row for deletes). */
  def keyOf(row: Row, column: String): Long = column match {
    case "account_id" => row.account
    case "id" => row.id
    case other => sys.error(s"generator has no column $other")
  }

  // ---------------------------------------------------------------- backlog

  /** One expected delivery of the backlog: topic index into `topics`,
    * frame LSN, Kafka key. */
  final case class Expected(topic: Int, lsn: Long, key: Long)

  /** Renders the backlog as pgoutput WAL, chunk after chunk, continuing
    * the LSN, id and row state of the chunks before it. */
  final class Backlog(seed: Long, streams: Seq[StreamDef]) {
    val topics: Vector[String] = streams.map(_.destination).distinct.toVector
    /** Routing, with `graft.operators.Routing`'s semantics: a change yields
      * one frame per stream whose normalized resource equals the change's
      * schema-qualified resource and whose operations contain its op
      * (case-insensitively). (resource, op) -> (topic index, key column). */
    private val routes = mutable.HashMap.empty[(String, String), Seq[(Int, String)]]
    private def routesOf(resource: String, op: String): Seq[(Int, String)] =
      routes.getOrElseUpdate((resource, op), streams.map(_.normalized)
        .filter(s => s.resource == resource && s.matchesOp(op))
        .map(s => (topics.indexOf(s.destination), s.routingKey)))
    private val rnd = new java.util.SplittableRandom(seed)
    private var lsn = 0x1000000L
    /** The LSN the next chunk starts after. */
    def position: Long = lsn
    private var xid = 1000
    private var seq = 0L
    private var commitUs = BaseUs
    private val nextId = mutable.Map.empty[Int, Long]
    // rows that exist, per table (bounded: the hot recent window)
    private val liveRows = backlogTables.map(_._1.relId -> mutable.ArrayBuffer.empty[Row]).toMap

    /** `n` statement rows split over the tables by their weights. */
    private def split(n: Int): Seq[(Table, Int)] = {
      val head = backlogTables.init.map { case (t, w) => t -> n * w / 100 }
      head :+ (backlogTables.last._1 -> (n - head.map(_._2).sum))
    }

    /** Moves `n` distinct rows, drawn at random, to the front of `rows`. */
    private def drawFront(rows: mutable.ArrayBuffer[Row], n: Int): Unit =
      (0 until n).foreach { j =>
        val k = j + rnd.nextInt(rows.size - j)
        val r = rows(j); rows(j) = rows(k); rows(k) = r
      }

    private def relation(t: Table): Array[Byte] = PgOutputEncoder.encode(
      Relation(t.relId, "public", t.name, 'f'.toByte,
        columns.map { case (n, oid) =>
          ColumnDef(if (n == "id") 1 else 0, n, oid, -1) }.toVector))

    private def tuple(r: Row): TupleData = TupleData(r.texts.map(TextDatum))

    /** Render one load-stand transaction as a WAL segment at `path`
      * (relations re-announced at the segment head, as a walsender does per
      * session): `inserts` rows inserted, then `inserts * UpdateRatio` rows
      * updated, then `inserts * DeleteRatio` rows deleted, each statement
      * set-based on one table, split over the tables by weight. Updates and
      * deletes touch distinct existing rows. Returns the number of changes
      * and the segment's byte size; each expected delivery goes to
      * `expected`. */
    def renderTxn(inserts: Int, path: Path,
        expected: Expected => Unit): (Int, Long) = {
      val frames = mutable.ArrayBuffer.empty[WalLog.Frame]
      backlogTables.foreach { case (t, _) =>
        lsn += 64; frames += WalLog.Frame(lsn, relation(t)) }
      commitUs += 1000000
      xid += 1
      val changes = mutable.ArrayBuffer.empty[(Table, String, PgOutputMessage, Row)]
      split(inserts).foreach { case (t, n) =>
        val rows = liveRows(t.relId)
        (0 until n).foreach { _ =>
          seq += 1
          val id = nextId.getOrElse(t.relId, 0L) + 1
          nextId(t.relId) = id
          val r = freshRow(rnd, seed, t.relId, id, seq, 0L, commitUs)
          rows += r
          changes += ((t, "insert", Insert(t.relId, tuple(r)), r))
        }
      }
      split((inserts * UpdateRatio).toInt).foreach { case (t, n) =>
        val rows = liveRows(t.relId)
        drawFront(rows, n)
        (0 until n).foreach { j =>
          seq += 1
          val old = rows(j)
          val r = changedRow(rnd, old, seq, 0L, commitUs)
          rows(j) = r
          changes += ((t, "update", Update(t.relId, Some(tuple(old)), tuple(r)), r))
        }
      }
      split((inserts * DeleteRatio).toInt).foreach { case (t, n) =>
        val rows = liveRows(t.relId)
        drawFront(rows, n)
        (0 until n).foreach { j =>
          seq += 1
          val old = rows(j)
          changes += ((t, "delete", Delete(t.relId, tuple(old)), old))
        }
        rows.remove(0, n)
        if (rows.size > RowWindow) rows.remove(0, rows.size - RowWindow)
      }
      val payloads = changes.map(c => PgOutputEncoder.encode(c._3))
      val beginLsn = lsn + 24
      var at = beginLsn
      val dataLsns = payloads.map { p => at += 24 + p.length; at }
      val commitLsn = at + 24
      val pgUs = commitUs - ChangeEvent.PostgresEpochShiftS * 1000000L
      frames += WalLog.Frame(beginLsn,
        PgOutputEncoder.encode(Begin(commitLsn, pgUs, xid)))
      changes.indices.foreach { k =>
        val (t, op, _, row) = changes(k)
        frames += WalLog.Frame(dataLsns(k), payloads(k))
        routesOf(t.resource, op).foreach { case (topic, keyColumn) =>
          expected(Expected(topic, dataLsns(k), keyOf(row, keyColumn)))
        }
      }
      frames += WalLog.Frame(commitLsn,
        PgOutputEncoder.encode(Commit(0, commitLsn, commitLsn + 16, pgUs)))
      lsn = commitLsn + 16
      WalLog.write(path, frames)
      (changes.size, Files.size(path))
    }
  }

  // ------------------------------------------------------------------- live

  /** One change of the live stream, identified at the broker by
    * (op, seq of the delivered row). */
  final case class LiveChange(op: Char, seq: Long, dueOffUs: Long, key: Long)

  def identity(op: Char, seq: Long): Long = seq * 4 + (op match {
    case 'I' => 0; case 'U' => 1; case 'D' => 2; case 'R' => 3 })

  /** The live workload's SQL: the pre-populated table, then one small
    * mixed transaction per tick. `due_off_us` is relative to the run's
    * start, so the SQL is a pure function of the seed. */
  final class LiveSql(seed: Long, initialRows: Int, txnRows: Int,
      eventsPerS: Int) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val rows = mutable.ArrayBuffer.empty[Row]
    private var nextId = 0L
    private var seq = 0L
    val txnIntervalUs: Long = 1000000L * txnRows / eventsPerS

    /** INSERT statements for the pre-populated table (snapshot READs). */
    def initial(batch: Int = 2000): (Seq[String], Seq[LiveChange]) = {
      val made = (0 until initialRows).map { _ =>
        nextId += 1; seq += 1
        val r = freshRow(rnd, seed, 0, nextId, seq, 0L, BaseUs)
        rows += r
        r
      }
      val sql = made.grouped(batch).map(g =>
        "INSERT INTO public.benchmark_records VALUES " +
          g.map(_.sqlValues).mkString(",")).toSeq
      (sql, made.map(r => LiveChange('R', r.seq, 0L, r.account)))
    }

    /** Transaction `k`: due at `k * txnIntervalUs` after the start, 60/30/10
      * insert/update/delete rows, as one multi-statement simple query. */
    def txn(k: Long): (String, Seq[LiveChange]) = {
      val due = k * txnIntervalUs
      val nowUs = BaseUs + due
      val ins = mutable.ArrayBuffer.empty[Row]
      val stmts = mutable.ArrayBuffer.empty[String]
      val changes = mutable.ArrayBuffer.empty[LiveChange]
      (0 until txnRows).foreach { _ =>
        val roll = rnd.nextInt(10)
        seq += 1
        if (roll < 6 || rows.size < 16) {
          nextId += 1
          val r = freshRow(rnd, seed, 0, nextId, seq, due, nowUs)
          ins += r
          changes += LiveChange('I', seq, due, r.account)
        } else {
          val i = rnd.nextInt(rows.size)
          val old = rows(i)
          if (roll < 9) {
            val r = changedRow(rnd, old, seq, due, nowUs)
            rows(i) = r
            stmts += s"UPDATE public.benchmark_records SET seq=${r.seq}, " +
              s"due_off_us=$due, numeric_field=${r.numeric}, " +
              s"status='${r.status}', updated_at='${ts(nowUs)}' WHERE id=${r.id}"
            changes += LiveChange('U', r.seq, due, r.account)
          } else {
            rows(i) = rows.last; rows.remove(rows.size - 1)
            stmts += s"DELETE FROM public.benchmark_records WHERE id=${old.id}"
            // the delete delivers the OLD row: identified by its seq
            changes += LiveChange('D', old.seq, due, old.account)
          }
        }
      }
      rows ++= ins
      val insert = if (ins.isEmpty) Nil else Seq(
        "INSERT INTO public.benchmark_records VALUES " +
          ins.map(_.sqlValues).mkString(","))
      // inserts go first: updates and deletes only touch rows that existed
      // before this transaction, so no statement sees another's effect
      val sql = ("BEGIN" +: (insert ++ stmts) :+ "COMMIT").mkString("; ")
      (sql, changes.toSeq)
    }
  }
}
