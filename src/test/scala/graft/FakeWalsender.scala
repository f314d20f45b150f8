package graft

import graft.source.postgres.{PgWire, ScramSha256, Scram => ScramCore}
import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, SocketTimeoutException}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

object FakeWalsender {
  sealed trait Auth
  case object Trust extends Auth
  case object Cleartext extends Auth
  case object Md5 extends Auth
  case object Scram extends Auth

  final case class Status(written: Long, flushed: Long, applied: Long,
      replyRequested: Boolean)
}

/** Backend side of the replication handshake, scripted for tests: accepts
  * ONE connection, answers the optional SSLRequest probe (like a real server
  * always does — 'S' + TLS handshake when `tls` is configured, 'N'
  * otherwise), performs startup + the configured auth exchange, answers
  * `START_REPLICATION` with CopyBothResponse, then pushes queued replication
  * payloads as CopyData and records every standby status update it receives.
  *
  * The protocol strings/digests are written here independently (from the
  * public PostgreSQL protocol docs), NOT by calling the client encoders —
  * so a client/server agreement is a genuine two-sided check.
  */
final class FakeWalsender(auth: FakeWalsender.Auth,
    password: String = "secret",
    tls: Option[javax.net.ssl.SSLContext] = None) extends AutoCloseable {
  import FakeWalsender._

  private val server = new ServerSocket(0, 1,
    java.net.InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort
  def host: String = server.getInetAddress.getHostAddress

  val statuses = new java.util.concurrent.CopyOnWriteArrayList[Status]()
  @volatile var startQuery: String = _
  @volatile var startupParams: Map[String, String] = Map.empty
  @volatile var failure: Throwable = _
  /** True once the SSLRequest probe ended in a completed TLS handshake —
    * the assertion surface for "the session actually ran encrypted". */
  @volatile var tlsEstablished: Boolean = false
  private val outQ = new ConcurrentLinkedQueue[(Byte, Array[Byte])]()
  @volatile private var running = true
  val copyBothEntered = new CountDownLatch(1)

  // ---- scripted catalog state (bootstrap tests) ----
  /** When true, START_REPLICATION against an unknown slot fails like a real
    * server ('replication slot … does not exist'). Default lenient so the
    * plain streaming tests need no setup. */
  @volatile var strictSlots = false
  /** LSN handed out as the next created slot's consistent_point. */
  @volatile var nextConsistentPoint = 0x500L
  /** Current WAL insert position (SELECT pg_current_wal_lsn()). */
  @volatile var currentWalLsn = 0x800L
  val publications = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** publication → its FOR TABLE list (empty = FOR ALL TABLES / marker). */
  val publicationTables =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  /** slot name → consistent point. */
  val slots = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** Live table state: resource → (columns(name, typeOid), rows of text
    * values). Mutating this AFTER a slot is created does not change what the
    * snapshot scan sees (rows freeze at slot creation — snapshot isolation). */
  val tables = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(String, Int)], Seq[Seq[String]])]()
  /** Tables of `tables` set to REPLICA IDENTITY FULL (the pre-flight's
    * relreplident probe answers 'f' for these, 'd' for the rest). */
  val fullIdentity = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Every simple query received, in order (assertion surface). */
  val queriesSeen = new java.util.concurrent.CopyOnWriteArrayList[String]()
  /** When a received simple query equals this, the server sends a
    * RowDescription and then goes silent (no rows, no ReadyForQuery) —
    * the scripted "slow huge FETCH" that must poison the client session. */
  @volatile var stallOnQuery: String = null
  /** Socket read timeout for the pre-CopyBoth query loop — each expiry is
    * retried (idle clients are legal), it only bounds close() latency.
    * Tests shrink it to prove idle-tolerance deterministically. */
  @volatile var queryIdleTimeoutMs: Int = 10000

  /** Queue one replication payload (XLogData / keepalive) for CopyData push. */
  def send(payload: Array[Byte]): Unit = outQ.add(('d'.toByte, payload))

  /** Queue an arbitrary backend message (e.g. a mid-stream ErrorResponse). */
  def sendRaw(tag: Char, body: Array[Byte]): Unit = outQ.add((tag.toByte, body))

  /** Queue a mid-stream ErrorResponse (e.g. simulated slot conflict). */
  def sendStreamError(msg: String): Unit = {
    val b = new java.io.ByteArrayOutputStream()
    def f(c: Char, v: String): Unit = { b.write(c); b.write(v.getBytes(UTF_8)); b.write(0) }
    f('S', "ERROR"); f('C', "55006"); f('M', msg); b.write(0)
    sendRaw('E', b.toByteArray)
  }

  def awaitCopyBoth(seconds: Int = 10): Unit =
    assert(copyBothEntered.await(seconds, TimeUnit.SECONDS),
      s"CopyBoth never entered${Option(failure).map(f => s": $f").getOrElse("")}")

  /** Block until the standby has reported `lsn` as flushed (or timeout). */
  def awaitFlushed(lsn: Long, seconds: Int = 20): Boolean = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      if (statuses.toArray.exists { case s: Status => s.flushed >= lsn }) return true
      Thread.sleep(20)
    }
    false
  }

  private val thread = new Thread(() => {
    try serve()
    catch { case e: Throwable => if (running) failure = e }
  }, "fake-walsender")
  thread.setDaemon(true)
  thread.start()

  private def serve(): Unit = {
    val accepted = server.accept()
    accepted.setTcpNoDelay(true)
    accepted.setSoTimeout(queryIdleTimeoutMs)
    val in0 = new DataInputStream(accepted.getInputStream)
    val out0 = new DataOutputStream(accepted.getOutputStream)

    // ---- optional SSLRequest probe (protocol docs "SSL Session
    // Encryption"): an 8-byte untagged packet with magic 80877103 arriving
    // where a StartupMessage would. Answer 'S' and handshake when TLS is
    // configured, 'N' otherwise — then the (real) startup message follows
    // on whichever byte stream won. Magic written here from the docs,
    // independent of the client encoder.
    var len = in0.readInt()
    var proto = in0.readInt()
    val sock: java.net.Socket =
      if (proto == 80877103) tls match {
        case Some(ctx) =>
          out0.writeByte('S'); out0.flush()
          val ssl = ctx.getSocketFactory
            .createSocket(accepted, null, accepted.getPort, true)
            .asInstanceOf[javax.net.ssl.SSLSocket]
          ssl.setUseClientMode(false)
          ssl.startHandshake()
          tlsEstablished = true
          ssl
        case None =>
          out0.writeByte('N'); out0.flush(); accepted
      } else accepted
    val in = if (sock eq accepted) in0 else new DataInputStream(sock.getInputStream)
    val out = if (sock eq accepted) out0 else new DataOutputStream(sock.getOutputStream)
    if (proto == 80877103) { len = in.readInt(); proto = in.readInt() }

    def tagged(tag: Char, body: Array[Byte]): Unit = {
      out.writeByte(tag); out.writeInt(4 + body.length); out.write(body); out.flush()
    }
    def cstr(s: String): Array[Byte] = {
      val b = s.getBytes(UTF_8); java.util.Arrays.copyOf(b, b.length + 1)
    }
    def readFrontend(): PgWire.Backend = {
      val t = in.readByte(); val l = in.readInt()
      val b = new Array[Byte](l - 4); in.readFully(b)
      PgWire.Backend(t, b)
    }
    def sendAuth(code: Int, extra: Array[Byte] = Array.emptyByteArray): Unit =
      tagged('R', ByteBuffer.allocate(4 + extra.length).putInt(code).put(extra).array())
    def sendError(msg: String, sqlstate: String = "28P01"): Unit = {
      val b = new java.io.ByteArrayOutputStream()
      def f(c: Char, v: String): Unit = { b.write(c); b.write(v.getBytes(UTF_8)); b.write(0) }
      f('S', "FATAL"); f('C', sqlstate); f('M', msg); b.write(0)
      tagged('E', b.toByteArray)
    }

    // ---- startup (untagged) ----
    val sb = new Array[Byte](len - 8); in.readFully(sb)
    require(proto == PgWire.ProtocolV3, s"protocol $proto")
    startupParams = PgWire.cstrings(sb).grouped(2)
      .collect { case Seq(k, v) => k -> v }.toMap
    val user = startupParams("user")
    require(startupParams.get("replication").contains("database"),
      "walsender mode requires replication=database")

    // ---- auth ----
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    auth match {
      case Trust =>
      case Cleartext =>
        sendAuth(3)
        val p = readFrontend()
        val got = new String(p.body, 0, p.body.length - 1, UTF_8)
        if (got != password) { sendError("password authentication failed for user \"" + user + "\""); sock.close(); return }
      case Md5 =>
        val salt = Array[Byte](0x0a, 0x0b, 0x0c, 0x0d)
        sendAuth(5, salt)
        val p = readFrontend()
        val got = new String(p.body, 0, p.body.length - 1, UTF_8)
        // expected digest computed INDEPENDENTLY of PgWire.md5Password
        val md = java.security.MessageDigest.getInstance("MD5")
        val inner = hex(md.digest((password + user).getBytes(UTF_8)))
        md.reset(); md.update(inner.getBytes(UTF_8)); md.update(salt)
        val expected = "md5" + hex(md.digest())
        if (got != expected) { sendError("password authentication failed for user \"" + user + "\""); sock.close(); return }
      case Scram =>
        // mechanism list: cstr per mechanism + terminating empty string
        sendAuth(10, cstr(ScramSha256.Mechanism) ++ Array[Byte](0))
        val init = readFrontend()
        val bb = ByteBuffer.wrap(init.body)
        val mechEnd = init.body.indexOf(0)
        val mech = new String(init.body, 0, mechEnd, UTF_8)
        require(mech == ScramSha256.Mechanism, s"mechanism $mech")
        bb.position(mechEnd + 1)
        val dlen = bb.getInt()
        val data = new Array[Byte](dlen); bb.get(data)
        val clientFirst = new String(data, UTF_8)
        require(clientFirst.startsWith("n,,"), s"gs2 header in $clientFirst")
        val clientFirstBare = clientFirst.stripPrefix("n,,")
        val cnonce = clientFirstBare.split(",").find(_.startsWith("r="))
          .get.substring(2)
        val snonce = cnonce + "srvnonce0123"
        val salt = "pepper-salt-16b!".getBytes(UTF_8)
        val iters = 4096
        val serverFirst =
          s"r=$snonce,s=${Base64.getEncoder.encodeToString(salt)},i=$iters"
        sendAuth(11, serverFirst.getBytes(UTF_8))
        val fin = readFrontend()
        val clientFinal = new String(fin.body, UTF_8)
        val withoutProof = clientFinal.substring(0, clientFinal.indexOf(",p="))
        val proof = Base64.getDecoder.decode(
          clientFinal.substring(clientFinal.indexOf(",p=") + 3))
        val authMessage = s"$clientFirstBare,$serverFirst,$withoutProof"
        val alg = ScramCore.Sha256
        val salted = ScramCore.hi(alg, password, salt, iters)
        val clientKey = ScramCore.hmac(alg, salted, "Client Key".getBytes(UTF_8))
        val storedKey = ScramCore.h(alg, clientKey)
        val expectedProof = ScramCore.xor(clientKey,
          ScramCore.hmac(alg, storedKey, authMessage.getBytes(UTF_8)))
        if (!java.util.Arrays.equals(proof, expectedProof)) {
          sendError("password authentication failed for user \"" + user + "\"")
          sock.close(); return
        }
        val serverKey = ScramCore.hmac(alg, salted, "Server Key".getBytes(UTF_8))
        val serverSig = ScramCore.hmac(alg, serverKey, authMessage.getBytes(UTF_8))
        sendAuth(12,
          s"v=${Base64.getEncoder.encodeToString(serverSig)}".getBytes(UTF_8))
    }
    sendAuth(0) // AuthenticationOk
    tagged('S', cstr("server_version") ++ cstr("16.4"))
    tagged('K', ByteBuffer.allocate(8).putInt(4242).putInt(7).array())
    tagged('Z', Array('I'.toByte))

    // ---- simple-query loop until START_REPLICATION → CopyBoth ----
    // Response formats (RowDescription/DataRow/CommandComplete) are written
    // here from the protocol docs, independent of the client's parsers.
    def sendRowDescription(cols: Seq[(String, Int)]): Unit = {
      val b = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(b)
      d.writeShort(cols.size)
      cols.foreach { case (n, oid) =>
        d.write(n.getBytes(UTF_8)); d.write(0)
        d.writeInt(0); d.writeShort(0); d.writeInt(oid)
        d.writeShort(-1); d.writeInt(-1); d.writeShort(0)
      }
      tagged('T', b.toByteArray)
    }
    def sendDataRow(vals: Seq[String]): Unit = {
      val b = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(b)
      d.writeShort(vals.size)
      vals.foreach { v =>
        if (v == null) d.writeInt(-1)
        else { val bytes = v.getBytes(UTF_8); d.writeInt(bytes.length); d.write(bytes) }
      }
      tagged('D', b.toByteArray)
    }
    def sendComplete(tag: String): Unit = tagged('C', cstr(tag))
    def sendReady(): Unit = tagged('Z', Array('I'.toByte))
    def sendQueryError(msg: String, sqlstate: String): Unit = {
      val b = new java.io.ByteArrayOutputStream()
      def f(c: Char, v: String): Unit = { b.write(c); b.write(v.getBytes(UTF_8)); b.write(0) }
      f('S', "ERROR"); f('C', sqlstate); f('M', msg); b.write(0)
      tagged('E', b.toByteArray)
    }
    def lsnText(l: Long): String =
      f"${(l >>> 32).toHexString.toUpperCase}%s/${(l & 0xFFFFFFFFL).toHexString.toUpperCase}%s"

    val CreateSlotRe = "CREATE_REPLICATION_SLOT (\\w+) LOGICAL pgoutput(?: (\\w+))?".r
    val DropSlotRe = "DROP_REPLICATION_SLOT (\\w+).*".r
    val CreatePubTablesRe = "CREATE PUBLICATION (\\w+) FOR TABLE (.+)".r
    val CreatePubRe = "CREATE PUBLICATION (\\w+).*".r
    val AlterPubRe = "ALTER PUBLICATION (\\w+) SET TABLE (.+)".r
    val DropPubRe = "DROP PUBLICATION IF EXISTS (\\w+)".r
    val PubExistsRe = "SELECT 1 FROM pg_publication WHERE pubname = '(\\w+)'".r
    val PubTablesRe = ("SELECT schemaname \\|\\| '\\.' \\|\\| tablename AS resource " +
      "FROM pg_publication_tables WHERE pubname = '(\\w+)'").r
    val SlotExistsRe = "SELECT 1 FROM pg_replication_slots WHERE slot_name = '(\\w+)'".r
    val DeclareRe = "DECLARE (\\w+) CURSOR FOR SELECT \\* FROM ([\\w.]+)".r
    val FetchRe = "FETCH FORWARD (\\d+) FROM (\\w+)".r
    val CloseRe = "CLOSE (\\w+)".r
    // pre-flight catalog probes (validator shapes): answered from `tables`
    val ServerVersionRe = "SELECT current_setting\\('server_version_num'\\)::int >= (\\d+)".r
    val WalLevelRe = "SELECT current_setting\\('wal_level'\\) = '(\\w+)'".r
    val RegclassRe = "SELECT to_regclass\\('([^']+)'\\) IS NOT NULL".r
    val ColumnRe = ("(?s)SELECT EXISTS \\(SELECT 1 FROM pg_attribute\\s+" +
      "WHERE attrelid = to_regclass\\('([^']+)'\\)\\s+" +
      "AND attname = '([^']+)' AND NOT attisdropped\\)").r
    val ReplIdentRe = ("SELECT relreplident = '(\\w)' FROM pg_class " +
      "WHERE oid = to_regclass\\('([^']+)'\\)").r

    def sendBool(b: Boolean): Unit = {
      sendRowDescription(Seq(("?column?", 16)))
      sendDataRow(Seq(if (b) "t" else "f"))
      sendComplete("SELECT 1")
    }

    var inTx = false
    var snapshotPinned = false
    // rows frozen at slot-create time: the snapshot scan must see exactly
    // these, regardless of later `tables` mutations (snapshot isolation)
    var frozen: Map[String, (Seq[(String, Int)], Seq[Seq[String]])] = Map.empty
    val cursors = scala.collection.mutable.Map.empty[String, (String, Int)]
    var inCopyBoth = false

    // A real server waits indefinitely for the next statement; the 10 s
    // socket timeout here exists only so close() can stop the thread. An
    // idle client between two queries (observed: the cold-start first Spark
    // parquet write of the snapshot flush barrier runs BETWEEN COMMIT and
    // the snapdone-ledger CREATE PUBLICATION, and takes >10 s under full-
    // suite contention) must NOT kill the query loop — that was the
    // MainE2ESpec flake: server thread dead, client's next query waits 30 s
    // for a response that never comes, session poisoned, child wedged.
    def readFrontendPatient(): PgWire.Backend = {
      while (true) {
        try return readFrontend()
        catch { case _: SocketTimeoutException => if (!running) throw new EOFException("closed") }
      }
      throw new IllegalStateException("unreachable")
    }

    while (!inCopyBoth && running) {
      val q = readFrontendPatient()
      if (q.tag == 'X'.toByte) { sock.close(); return }
      require(q.tag == 'Q'.toByte, s"expected Query, got '${q.tag.toChar}'")
      val sql = new String(q.body, 0, q.body.length - 1, UTF_8)
      queriesSeen.add(sql)
      sql match {
        case s if stallOnQuery != null && s == stallOnQuery =>
          // mid-response stall: the client has consumed a RowDescription, so
          // its stream position is now inside a response that never completes
          sendRowDescription(Seq(("stalled", 25)))
        case s if s.startsWith("START_REPLICATION") =>
          startQuery = s
          val slotName = s.split("\\s+")(2)
          if (strictSlots && !slots.containsKey(slotName)) {
            sendQueryError(s"""replication slot "$slotName" does not exist""", "42704")
            sendReady()
          } else {
            tagged('W', Array[Byte](0, 0, 0)) // CopyBothResponse, 0 columns
            copyBothEntered.countDown()
            inCopyBoth = true
          }
        case CreateSlotRe(name, mode) =>
          val m = Option(mode).getOrElse("EXPORT_SNAPSHOT")
          if (m == "USE_SNAPSHOT" && !inTx)
            sendQueryError("USE_SNAPSHOT must be called inside a transaction", "25001")
          else if (slots.containsKey(name))
            sendQueryError(s"""replication slot "$name" already exists""", "42710")
          else {
            val point = nextConsistentPoint
            slots.put(name, point)
            frozen = {
              import scala.jdk.CollectionConverters._
              tables.asScala.toMap
            }
            val snapName = if (m == "EXPORT_SNAPSHOT") f"${point}%08X-1" else null
            if (m == "USE_SNAPSHOT") snapshotPinned = true
            sendRowDescription(Seq(("slot_name", 25), ("consistent_point", 25),
              ("snapshot_name", 25), ("output_plugin", 25)))
            sendDataRow(Seq(name, lsnText(point), snapName, "pgoutput"))
            sendComplete("CREATE_REPLICATION_SLOT")
          }
          sendReady()
        case ServerVersionRe(min) =>
          sendBool(160004 >= min.toInt); sendReady() // server_version 16.4
        case WalLevelRe(level) =>
          sendBool(level == "logical"); sendReady()
        case RegclassRe(resource) =>
          sendBool(tables.containsKey(resource)); sendReady()
        case ColumnRe(resource, column) =>
          sendBool(Option(tables.get(resource)).exists(_._1.exists(_._1 == column)))
          sendReady()
        case ReplIdentRe(ident, resource) =>
          // no pg_class row for a missing table: an empty result
          sendRowDescription(Seq(("?column?", 16)))
          if (tables.containsKey(resource)) {
            val actual = if (fullIdentity.contains(resource)) "f" else "d"
            sendDataRow(Seq(if (actual == ident) "t" else "f"))
            sendComplete("SELECT 1")
          } else sendComplete("SELECT 0")
          sendReady()
        case DropSlotRe(name) =>
          slots.remove(name); sendComplete("DROP_REPLICATION_SLOT"); sendReady()
        case CreatePubTablesRe(name, tableList) =>
          if (publications.contains(name))
            sendQueryError(s"""publication "$name" already exists""", "42710")
          else {
            publications.add(name)
            publicationTables.put(name, tableList.split(",\\s*").toSeq)
            sendComplete("CREATE PUBLICATION")
          }
          sendReady()
        case CreatePubRe(name) =>
          if (publications.contains(name))
            sendQueryError(s"""publication "$name" already exists""", "42710")
          else { publications.add(name); sendComplete("CREATE PUBLICATION") }
          sendReady()
        case AlterPubRe(name, tableList) =>
          if (!publications.contains(name))
            sendQueryError(s"""publication "$name" does not exist""", "42704")
          else {
            publicationTables.put(name, tableList.split(",\\s*").toSeq)
            sendComplete("ALTER PUBLICATION")
          }
          sendReady()
        case DropPubRe(name) =>
          publications.remove(name); publicationTables.remove(name)
          sendComplete("DROP PUBLICATION"); sendReady()
        case PubTablesRe(name) =>
          sendRowDescription(Seq(("resource", 25)))
          val ts = Option(publicationTables.get(name)).getOrElse(Nil)
          ts.foreach(t => sendDataRow(Seq(t)))
          sendComplete(s"SELECT ${ts.size}")
          sendReady()
        case PubExistsRe(name) =>
          sendRowDescription(Seq(("?column?", 23)))
          if (publications.contains(name)) { sendDataRow(Seq("1")); sendComplete("SELECT 1") }
          else sendComplete("SELECT 0")
          sendReady()
        case SlotExistsRe(name) =>
          sendRowDescription(Seq(("?column?", 23)))
          if (slots.containsKey(name)) { sendDataRow(Seq("1")); sendComplete("SELECT 1") }
          else sendComplete("SELECT 0")
          sendReady()
        case "SELECT pg_current_wal_lsn() AS lsn" =>
          if (inTx) {
            // REPEATABLE READ takes its snapshot at the first statement —
            // the same statement that reports the WAL boundary
            frozen = {
              import scala.jdk.CollectionConverters._
              tables.asScala.toMap
            }
            snapshotPinned = true
          }
          sendRowDescription(Seq(("lsn", 3220)))
          sendDataRow(Seq(lsnText(currentWalLsn)))
          sendComplete("SELECT 1")
          sendReady()
        case "SELECT pubname FROM pg_publication WHERE pubname LIKE 'graft_snapdone_%'" =>
          sendRowDescription(Seq(("pubname", 25)))
          val matches = {
            import scala.jdk.CollectionConverters._
            publications.asScala.toSeq.filter(_.startsWith("graft_snapdone_")).sorted
          }
          matches.foreach(n => sendDataRow(Seq(n)))
          sendComplete(s"SELECT ${matches.size}")
          sendReady()
        case s if s.startsWith("BEGIN") =>
          inTx = true; sendComplete("BEGIN"); sendReady()
        case "COMMIT" =>
          inTx = false; snapshotPinned = false; cursors.clear()
          sendComplete("COMMIT"); sendReady()
        case DeclareRe(cur, resource) =>
          // the contract under test: a snapshot scan outside the pinned
          // snapshot would read an inconsistent boundary — reject it
          if (!snapshotPinned)
            sendQueryError("snapshot scan requires a pinned snapshot " +
              "(USE_SNAPSHOT or a REPEATABLE READ boundary)", "0A000")
          else if (!frozen.contains(resource))
            sendQueryError(s"""relation "$resource" does not exist""", "42P01")
          else { cursors(cur) = (resource, 0); sendComplete("DECLARE CURSOR") }
          sendReady()
        case FetchRe(n, cur) =>
          cursors.get(cur) match {
            case None => sendQueryError(s"""cursor "$cur" does not exist""", "34000")
            case Some((resource, pos)) =>
              val (cols, rows) = frozen(resource)
              val batch = rows.slice(pos, pos + n.toInt)
              cursors(cur) = (resource, pos + batch.size)
              sendRowDescription(cols)
              batch.foreach(sendDataRow)
              sendComplete(s"FETCH ${batch.size}")
          }
          sendReady()
        case CloseRe(_) =>
          sendComplete("CLOSE CURSOR"); sendReady()
        case other =>
          sendQueryError(s"unrecognized command: $other", "42601"); sendReady()
      }
    }

    // ---- streaming: push queue out, record standby statuses in ----
    sock.setSoTimeout(10)
    while (running) {
      var m: PgWire.Backend = null
      try m = readFrontend()
      catch {
        case _: SocketTimeoutException =>
        case _: EOFException => running = false
      }
      if (m != null) m.tag.toChar match {
        case 'd' =>
          val d = ByteBuffer.wrap(m.body)
          if (d.get() == 'r'.toByte) {
            val w = d.getLong(); val f = d.getLong(); val a = d.getLong()
            d.getLong() // clock
            statuses.add(Status(w, f, a, d.get() != 0))
          }
        case 'c' => // CopyDone — peer is shutting down gracefully
        case 'X' => running = false
        case _ =>
      }
      var p = outQ.poll()
      while (p != null) { tagged(p._1.toChar, p._2); p = outQ.poll() }
    }
    sock.close()
  }

  override def close(): Unit = {
    running = false
    server.close()
  }
}
