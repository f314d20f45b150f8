package graft.source.postgres

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** An authenticated protocol-v3 session in walsender ("replication database")
  * mode: runs simple queries (the subset a replication bootstrap needs —
  * RowDescription / DataRow / CommandComplete / ReadyForQuery) and can hand
  * the socket over to CopyBoth streaming via [[startReplication]].
  *
  * It is graft's only Postgres client: the [[Preflight]] catalog checks,
  * `CREATE PUBLICATION`, `CREATE_REPLICATION_SLOT … LOGICAL pgoutput`
  * (whose RESULT ROW carries `consistent_point`), and the snapshot-phase
  * cursor scan all run as simple queries on this session before streaming
  * begins
  * (reference: src/source/postgres/replication_protocol.zig:216-313, slot
  * state machine source.zig:178-197). PostgreSQL's walsender accepts plain
  * SQL alongside replication commands when started with
  * `replication=database`, so one session covers the whole bootstrap.
  */
final class PgSession private[postgres] (
    private[postgres] val socket: Socket,
    private[postgres] val in: DataInputStream,
    private[postgres] val out: DataOutputStream,
    queryTimeoutMs: Int) extends AutoCloseable {
  import PgSession._
  import PgWire._

  private var handedOff = false
  private var poisoned = false

  /** Drop the session irrecoverably: a timeout (or any abort) in the middle
    * of a response leaves the input stream byte-desynced — the next read
    * would parse payload bytes as a tag+length and spool garbage. Matching
    * [[PgWire.readBackendOrIdle]]'s desync policy, reuse must fail loudly. */
  private def poison(): Unit = {
    poisoned = true
    try socket.close() catch { case _: java.io.IOException => }
  }

  /** Run one simple query to completion (ReadyForQuery). Collects every
    * row/tag in between; an ErrorResponse is drained to ReadyForQuery and
    * then thrown — the session stays usable, matching protocol semantics.
    * A timeout or protocol violation MID-RESPONSE, by contrast, poisons the
    * session (stream position unknown) and closes the socket. */
  def simpleQuery(sql: String): Result = {
    require(!handedOff, "session already in CopyBoth streaming")
    require(!poisoned,
      "session poisoned by an earlier mid-response failure — reconnect")
    socket.setSoTimeout(queryTimeoutMs)
    out.write(query(sql)); out.flush()
    var fields: Seq[Field] = Nil
    val rows = Seq.newBuilder[IndexedSeq[String]]
    val tags = Seq.newBuilder[String]
    var err: String = null
    var done = false
    try {
      while (!done) {
        val m = readBackend(in)
        m.tag.toChar match {
          case 'T' => fields = parseRowDescription(m.body)
          case 'D' => rows += parseDataRow(m.body)
          case 'C' => tags += new String(m.body, 0, m.body.length - 1, UTF_8)
          case 'I' => // EmptyQueryResponse
          case 'E' => if (err == null) err = parseErrorFields(m.body)
          case 'N' | 'S' | 'A' => // notice / parameter status / notification
          case 'Z' => done = true
          case t =>
            poison()
            throw new IllegalStateException(
              s"unexpected message '$t' in simple-query response")
        }
      }
    } catch {
      case e: java.net.SocketTimeoutException =>
        poison()
        throw new IllegalStateException(
          s"no response bytes within $queryTimeoutMs ms mid-query ($sql): " +
            "stream position unknown; session poisoned — raise " +
            "query_timeout_ms for slow large fetches", e)
      case e: java.io.IOException => poison(); throw e
    }
    if (err != null)
      throw new IllegalStateException(s"query failed: $err — $sql")
    Result(fields, rows.result(), tags.result())
  }

  /** Issue START_REPLICATION and hand the socket over to CopyBoth streaming.
    * After this the session object must not run further queries. */
  def startReplication(slot: String, publication: String, startLsn: String,
      readTimeoutMs: Int = 500,
      midMessageTimeoutMs: Int = 30000): SocketCopyBothChannel = {
    require(!handedOff, "session already in CopyBoth streaming")
    require(!poisoned,
      "session poisoned by an earlier mid-response failure — reconnect")
    try {
      socket.setSoTimeout(queryTimeoutMs)
      out.write(query(Replication.startReplication(slot, publication, startLsn)))
      out.flush()
      var copyBoth = false
      while (!copyBoth) {
        val m = readBackend(in)
        m.tag.toChar match {
          case 'W' => copyBoth = true // CopyBothResponse — streaming begins
          case 'S' | 'N' =>
          case 'E' => throw new IllegalStateException(
            s"START_REPLICATION failed: ${parseErrorFields(m.body)}")
          case t => throw new IllegalStateException(
            s"unexpected message '$t' awaiting CopyBothResponse")
        }
      }
      handedOff = true
      new SocketCopyBothChannel(socket, in, out, readTimeoutMs, midMessageTimeoutMs)
    } catch {
      case e: Throwable =>
        try socket.close() catch { case _: java.io.IOException => }
        throw e
    }
  }

  override def close(): Unit = if (!handedOff) {
    try { out.write(terminate()); out.flush() }
    catch { case _: java.io.IOException => /* already gone */ }
    socket.close()
  }
}

object PgSession {
  import PgWire._

  /** One result-set column: name + type OID (values arrive in text format,
    * so the OID drives promotion exactly as pgoutput datums do). */
  final case class Field(name: String, typeOid: Int)

  /** Simple-query outcome: fields, rows (text values, null for SQL NULL) and
    * CommandComplete tags, across all statements in the query string. */
  final case class Result(fields: Seq[Field], rows: Seq[IndexedSeq[String]],
      tags: Seq[String]) {
    def columnIndex(name: String): Int = {
      val i = fields.indexWhere(_.name == name)
      require(i >= 0, s"no column '$name' in ${fields.map(_.name).mkString(",")}")
      i
    }
    /** Value of column `name` in the single expected row (null-safe). */
    def single(name: String): Option[String] = {
      require(rows.size == 1, s"expected 1 row, got ${rows.size}")
      Option(rows.head(columnIndex(name)))
    }
  }

  /** RowDescription: int16 n, then per field: name cstr, table oid i32,
    * attnum i16, type oid i32, typlen i16, typmod i32, format i16. */
  private[postgres] def parseRowDescription(body: Array[Byte]): Seq[Field] = {
    val bb = ByteBuffer.wrap(body)
    val n = bb.getShort()
    (0 until n).map { _ =>
      val start = bb.position()
      while (bb.get() != 0) {}
      val name = new String(body, start, bb.position() - start - 1, UTF_8)
      bb.getInt() // table oid
      bb.getShort() // attnum
      val typeOid = bb.getInt()
      bb.getShort() // typlen
      bb.getInt() // typmod
      bb.getShort() // format (0 = text on the simple-query path)
      Field(name, typeOid)
    }
  }

  /** DataRow: int16 n, then per column i32 length (-1 = NULL) + bytes. */
  private[postgres] def parseDataRow(body: Array[Byte]): IndexedSeq[String] = {
    val bb = ByteBuffer.wrap(body)
    val n = bb.getShort()
    (0 until n).map { _ =>
      val len = bb.getInt()
      if (len < 0) null
      else {
        val b = new Array[Byte](len); bb.get(b)
        new String(b, UTF_8)
      }
    }
  }

  /** Open a socket, negotiate TLS per the endpoint's sslmode (BEFORE any
    * protocol bytes — the SSLRequest precedes the StartupMessage), perform
    * startup + auth, wait for ReadyForQuery. */
  def connect(ep: SocketCopyBothChannel.Endpoint,
      connectTimeoutMs: Int = 15000,
      queryTimeoutMs: Int = 30000): PgSession = {
    val plain = new Socket()
    plain.setTcpNoDelay(true)
    plain.connect(new InetSocketAddress(ep.host, ep.port), connectTimeoutMs)
    plain.setSoTimeout(connectTimeoutMs)
    val socket =
      try PgTls.negotiate(plain, ep.host, ep.ssl)
      catch { case e: Throwable =>
        try plain.close() catch { case _: java.io.IOException => }
        throw e
      }
    val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream))
    def fail(msg: String): Nothing = {
      socket.close(); throw new IllegalStateException(msg)
    }
    def needPassword(): String =
      ep.password.getOrElse(fail(
        s"server demands a password for ${ep.user} and none was configured"))
    try {
      out.write(startupMessage(ep.user, ep.database)); out.flush()
      var scram: ScramSha256.Client = null
      var ready = false
      while (!ready) {
        // pre-auth: small message cap — a huge length word here is a
        // non-postgres peer, not a TOASTed row
        val m = readBackend(in, HandshakeMaxBytes)
        m.tag.toChar match {
          case 'R' =>
            val bb = ByteBuffer.wrap(m.body)
            bb.getInt() match {
              case 0 => // AuthenticationOk
              case 3 => // CleartextPassword
                out.write(passwordMessage(needPassword())); out.flush()
              case 5 => // MD5Password
                val salt = new Array[Byte](4); bb.get(salt)
                out.write(passwordMessage(md5Password(ep.user, needPassword(), salt)))
                out.flush()
              case 10 => // SASL: mechanism list
                val mechs = cstrings(java.util.Arrays.copyOfRange(m.body, 4, m.body.length))
                if (!mechs.contains(ScramSha256.Mechanism))
                  fail(s"no supported SASL mechanism in ${mechs.mkString(",")}")
                scram = new ScramSha256.Client(needPassword())
                out.write(saslInitialResponse(ScramSha256.Mechanism,
                  scram.clientFirstMessage))
                out.flush()
              case 11 => // SASLContinue (server-first)
                if (scram == null) fail("SASLContinue before SASL start")
                out.write(saslResponse(scram.clientFinal(
                  java.util.Arrays.copyOfRange(m.body, 4, m.body.length))))
                out.flush()
              case 12 => // SASLFinal (server signature)
                if (scram == null) fail("SASLFinal before SASL start")
                scram.verifyServerFinal(
                  java.util.Arrays.copyOfRange(m.body, 4, m.body.length))
              case other => fail(s"unsupported auth request code $other")
            }
          case 'S' | 'K' | 'N' => // ParameterStatus / BackendKeyData / Notice
          case 'Z' => ready = true
          case 'E' => fail(s"connection refused: ${parseErrorFields(m.body)}")
          case t => fail(s"unexpected message '$t' during startup")
        }
      }
      new PgSession(socket, in, out, queryTimeoutMs)
    } catch {
      case e: Throwable =>
        try socket.close() catch { case _: java.io.IOException => }
        throw e
    }
  }
}
