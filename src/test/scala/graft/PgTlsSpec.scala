package graft

import graft.source.postgres.{PgSession, PgTls, ReplicationWire, SocketCopyBothChannel}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** TLS on the Postgres wire: SSLRequest negotiation (magic 80877103 →
  * 'S'/'N'), the libpq sslmode surface minus the downgrade modes, and the
  * construction-time validation contract. Driven against [[FakeWalsender]]'s
  * TLS listener with fresh self-signed credentials per server
  * ([[TlsTestCerts]]), so accept and reject paths both exercise a REAL JSSE
  * handshake — no mocked trust decisions.
  * (Reference nudges the same posture:
  * src/source/postgres/replication_protocol.zig:142-143.)
  */
class PgTlsSpec extends AnyFunSuite {
  import FakeWalsender._
  import ReplicationWire._
  import SocketCopyBothChannel.Endpoint

  private def connectTls(srv: FakeWalsender, ssl: PgTls.SslConfig,
      password: Option[String] = None): SocketCopyBothChannel =
    PgSession.connect(
      Endpoint(srv.host, srv.port, "graft_user", "appdb", password, ssl))
      .startReplication("graft_slot", "graft_pub", "0/0", readTimeoutMs = 100)

  test("sslmode is validated at construction, before any socket") {
    intercept[IllegalArgumentException] { PgTls.SslConfig("requird") }
    // the libpq downgrade modes are rejected by design, not unknown-typo'd
    intercept[IllegalArgumentException] { PgTls.SslConfig("prefer") }
    intercept[IllegalArgumentException] { PgTls.SslConfig("allow") }
    // verify modes demand a root cert…
    intercept[IllegalArgumentException] { PgTls.SslConfig("verify-ca") }
    intercept[IllegalArgumentException] { PgTls.SslConfig("verify-full") }
    // …and it must exist
    intercept[IllegalArgumentException] {
      PgTls.SslConfig("verify-ca", Some("/nonexistent/root.crt"))
    }
    assert(!PgTls.SslConfig("disable").enabled)
    assert(PgTls.SslConfig("require").enabled)
  }

  test("URI carries sslmode/sslrootcert; unknown params are a hard error") {
    val cert = Files.createTempFile("root", ".crt")
    val e = SocketCopyBothChannel.parseUri(
      s"postgres://alice:pw@db.example/orders?sslmode=verify-full&sslrootcert=$cert")
    assert(e.ssl == PgTls.SslConfig("verify-full", Some(cert.toString)))
    val plain = SocketCopyBothChannel.parseUri("postgres://bob@localhost/cdc")
    assert(plain.ssl == PgTls.SslConfig("disable", None))
    // a typo'd key silently ignored would mean plaintext to production
    intercept[IllegalArgumentException] {
      SocketCopyBothChannel.parseUri("postgres://localhost/db?ssl_mode=require")
    }
    // benign libpq params on an existing URI must not break the parse —
    // accepted and ignored, while TLS settings on the same URI still bind
    val mixed = SocketCopyBothChannel.parseUri(
      "postgres://bob@localhost/cdc?application_name=graft&connect_timeout=10" +
        "&sslmode=require&options=-csearch_path%3Dpublic")
    assert(mixed.ssl == PgTls.SslConfig("require", None))
    // but a security-adjacent unknown key still fails closed
    intercept[IllegalArgumentException] {
      SocketCopyBothChannel.parseUri("postgres://localhost/db?sslcert=/x.pem")
    }
  }

  test("sslmode=require: handshake completes, CopyBoth streams encrypted, " +
      "SCRAM runs inside the tunnel") {
    val creds = TlsTestCerts.makeServer()
    val srv = new FakeWalsender(Scram, password = "tlspass",
      tls = Some(creds.context))
    val ch = connectTls(srv, PgTls.SslConfig("require"), Some("tlspass"))
    try {
      srv.awaitCopyBoth()
      assert(srv.tlsEstablished, "session must have upgraded to TLS")
      assert(srv.startupParams("replication") == "database")
      // data flows through the tunnel both ways
      srv.send(encodeXLogData(XLogData(55L, 55L, 1L, Array[Byte](1, 2, 3))))
      var got: Array[Byte] = null
      val deadline = System.nanoTime() + 10000000000L
      while (got == null && System.nanoTime() < deadline) got = ch.read()
      val Data(x) = decode(got): @unchecked
      assert(x.walStart == 55L)
      ch.write(statusUpdate(55L, 1L, replyRequested = false))
      assert(srv.awaitFlushed(55L))
    } finally { ch.close(); srv.close() }
  }

  test("sslmode=require against a server that answers 'N' fails loudly, " +
      "never downgrades to plaintext") {
    val srv = new FakeWalsender(Trust) // no TLS configured → answers 'N'
    val e = intercept[IllegalStateException] {
      connectTls(srv, PgTls.SslConfig("require"))
    }
    assert(e.getMessage.contains("refused TLS"))
    srv.close()
  }

  test("sslmode=disable still works against a TLS-capable server " +
      "(no SSLRequest sent, plaintext session)") {
    val creds = TlsTestCerts.makeServer()
    val srv = new FakeWalsender(Trust, tls = Some(creds.context))
    val ch = connectTls(srv, PgTls.SslConfig("disable"))
    try {
      srv.awaitCopyBoth()
      assert(!srv.tlsEstablished)
    } finally { ch.close(); srv.close() }
  }

  test("sslmode=verify-ca: accepts the configured root, rejects an unknown CA") {
    val creds = TlsTestCerts.makeServer()
    val srv = new FakeWalsender(Trust, tls = Some(creds.context))
    val ch = connectTls(srv,
      PgTls.SslConfig("verify-ca", Some(creds.certPath.toString)))
    try {
      srv.awaitCopyBoth()
      assert(srv.tlsEstablished)
    } finally { ch.close(); srv.close() }

    // a second server with a DIFFERENT self-signed keypair: the first
    // server's cert is not its root → the JSSE chain check must fail
    val other = TlsTestCerts.makeServer()
    val srv2 = new FakeWalsender(Trust, tls = Some(other.context))
    intercept[java.io.IOException] {
      connectTls(srv2,
        PgTls.SslConfig("verify-ca", Some(creds.certPath.toString)))
    }
    srv2.close()
  }

  test("sslmode=verify-full: hostname must match the certificate's SAN") {
    // SAN covers 127.0.0.1 (the dialed host) → accept
    val good = TlsTestCerts.makeServer(san = "dns:localhost,ip:127.0.0.1")
    val srv = new FakeWalsender(Trust, tls = Some(good.context))
    val ch = connectTls(srv,
      PgTls.SslConfig("verify-full", Some(good.certPath.toString)))
    try {
      srv.awaitCopyBoth()
      assert(srv.tlsEstablished)
    } finally { ch.close(); srv.close() }

    // certificate only names another host: chain is TRUSTED (same root) but
    // the endpoint-identity check must still reject — verify-ca would pass
    // here, which is exactly the gap verify-full closes
    val wrong = TlsTestCerts.makeServer(san = "dns:db.internal.example")
    val srv2 = new FakeWalsender(Trust, tls = Some(wrong.context))
    intercept[java.io.IOException] {
      connectTls(srv2,
        PgTls.SslConfig("verify-full", Some(wrong.certPath.toString)))
    }
    srv2.close()
  }
}
