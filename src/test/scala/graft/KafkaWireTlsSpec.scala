package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sink.kafka.{WireEndpoint, WireProducer}
import graft.source.postgres.PgTls

/** TLS on the Kafka WIRE producer — the reference producer is TLS-capable
  * and TESTED for verify/reject (reference:
  * src/sink/kafka/producer_test.zig:70-282: TLS connect, verify-full
  * accept, reject on a certificate the client's trust config can't
  * satisfy). Same contract here, against the in-process broker wrapped in
  * a real JSSE server context: no protocol preamble (security.protocol=SSL
  * is TLS from byte 0), verify-full accepts the good SAN and rejects the
  * wrong one, an unknown root is rejected outright, and delivery runs
  * end-to-end (produce → CRC-verified broker ingest) over the encrypted
  * socket. Certificates come from [[TlsTestCerts]] — fresh keypair per
  * call, so reject-on-unknown-CA is by construction, never fixture luck.
  */
class KafkaWireTlsSpec extends AnyFunSuite {

  private def tlsBroker(creds: TlsTestCerts.ServerCreds) =
    new FakeKafkaBroker(Map("t" -> 2), tls = Some(creds.context))

  test("verify-full accepts the matching SAN and delivers end-to-end") {
    val creds = TlsTestCerts.makeServer() // SAN covers localhost/127.0.0.1
    val broker = tlsBroker(creds)
    try {
      val p = new WireProducer("localhost", broker.port,
        tls = Some(PgTls.SslConfig("verify-full",
          Some(creds.certPath.toString))))
      try {
        p.testConnection(Seq("t"))
        (1 to 20).foreach(i =>
          p.send("t", s"k$i".getBytes, s"v$i".getBytes))
        p.flush() // delivery barrier over the encrypted socket
        assert(p.deliveryErrorCount == 0)
      } finally p.close()
      // the broker re-verifies CRC32C on ingest, so 20 stored records mean
      // the full record-batch codec survived the TLS transport intact
      assert(broker.receivedSeq.size == 20)
      assert(broker.receivedSeq.map(_._4).toSet == (1 to 20).map("v" + _).toSet)
    } finally broker.close()
  }

  test("verify-full rejects a certificate whose SAN does not match the host") {
    val creds = TlsTestCerts.makeServer(san = "dns:not-this-host.example")
    val broker = tlsBroker(creds)
    try {
      val full = new WireProducer("localhost", broker.port,
        tls = Some(PgTls.SslConfig("verify-full",
          Some(creds.certPath.toString))))
      try {
        val e = intercept[Exception](full.testConnection(Seq("t")))
        assert(e.isInstanceOf[javax.net.ssl.SSLException] ||
          e.getCause.isInstanceOf[javax.net.ssl.SSLException],
          s"expected an SSL failure, got $e")
      } finally full.abortClose()
      // verify-ca accepts the SAME chain (trusted root, no hostname check)
      // — pinning that the rejection above is the HOSTNAME verification,
      // not an accident of the chain
      val ca = new WireProducer("localhost", broker.port,
        tls = Some(PgTls.SslConfig("verify-ca",
          Some(creds.certPath.toString))))
      try {
        ca.testConnection(Seq("t"))
        ca.send("t", "k".getBytes, "v".getBytes)
        ca.flush()
      } finally ca.close()
    } finally broker.close()
  }

  test("verify-full rejects a broker whose root the client does not trust") {
    val serverCreds = TlsTestCerts.makeServer()
    val otherCreds = TlsTestCerts.makeServer() // fresh, unrelated root
    val broker = tlsBroker(serverCreds)
    try {
      val p = new WireProducer("localhost", broker.port,
        tls = Some(PgTls.SslConfig("verify-full",
          Some(otherCreds.certPath.toString))))
      try {
        val e = intercept[Exception](p.testConnection(Seq("t")))
        assert(e.isInstanceOf[javax.net.ssl.SSLException] ||
          e.getCause.isInstanceOf[javax.net.ssl.SSLException],
          s"expected an SSL failure, got $e")
      } finally p.abortClose()
    } finally broker.close()
  }

  test("wire+tls bootstrap and the SSL security enum drive the same config") {
    val creds = TlsTestCerts.makeServer()
    val caPath = creds.certPath.toString
    // bootstrap-string form
    val ep = WireEndpoint.parse(s"wire+tls://localhost:9999?ca=$caPath")
    assert(ep.host == "localhost" && ep.port == 9999)
    assert(ep.tls.contains(PgTls.SslConfig("verify-full", Some(caPath))))
    assert(WireEndpoint.parse(
        s"wire+tls://h:1?ca=$caPath&verify=ca").tls.get.mode == "verify-ca")
    assert(WireEndpoint.parse("wire+tls://h:1?verify=require")
      .tls.get.mode == "require")
    assert(WireEndpoint.parse("wire://h:1").tls.isEmpty)
    // verify modes without a CA fail at PARSE time, never at first produce
    intercept[IllegalArgumentException](WireEndpoint.parse("wire+tls://h:1"))
    intercept[IllegalArgumentException](
      WireEndpoint.parse("wire+tls://h:1?verify=sideways"))
    // security-enum form: security.protocol=SSL now CONSTRUCTS the wire
    // TLS config (r14 VERDICT #5 — the enum stops being validate-only)
    import graft.sink.KafkaSinkConfig
    assert(KafkaSinkConfig.wireTls(Map.empty).isEmpty)
    assert(KafkaSinkConfig.wireTls(Map(
      "security.protocol" -> "SSL", "ssl.ca.location" -> caPath))
      .contains(PgTls.SslConfig("verify-full", Some(caPath))))
    assert(KafkaSinkConfig.wireTls(Map(
      "security.protocol" -> "SSL", "ssl.ca.location" -> caPath,
      "ssl.endpoint.identification.algorithm" -> "none"))
      .get.mode == "verify-ca")
    intercept[IllegalArgumentException](
      KafkaSinkConfig.wireTls(Map("security.protocol" -> "SASL_SSL")))
    // SSL without a CA and without the explicit verification opt-out must
    // fail loudly (SslConfig's constructor), never encrypt-and-trust-all
    intercept[IllegalArgumentException](
      KafkaSinkConfig.wireTls(Map("security.protocol" -> "SSL")))
    val up = KafkaSinkConfig.secureWireBootstrap("wire://b:2", Map(
      "security.protocol" -> "SSL", "ssl.ca.location" -> caPath))
    assert(WireEndpoint.parse(up) ==
      WireEndpoint.Ep("b", 2, Some(PgTls.SslConfig("verify-full", Some(caPath)))))
    assert(KafkaSinkConfig.secureWireBootstrap("wire://b:2", Map.empty) ==
      "wire://b:2")
  }

  test("fromBootstrap carries TLS through the foreachBatch wire path") {
    // the bootstrap string → WireEndpoint parse → WireFrameProducer →
    // per-task WireProducer chain must keep the TLS identity across task
    // serialization: the broker speaks TLS only, so frames landing prove
    // no task fell back to a plaintext socket, and a CA the broker's
    // chain does not satisfy must fail the produce, never trust-all
    val creds = TlsTestCerts.makeServer()
    val broker = tlsBroker(creds)
    try {
      val spark = SparkTestBase.spark
      import spark.implicits._
      val frames = (1 to 12).map(i => ("t", s"k$i", s"v$i"))
        .toDF("topic", "key", "value").repartition(3)
      graft.sink.kafka.WireFrameProducer.fromBootstrap(
        s"wire+tls://localhost:${broker.port}?ca=${creds.certPath}")
        .get.produce(frames)
      assert(broker.receivedSeq.map(_._4).toSet == (1 to 12).map("v" + _).toSet)
      val otherCa = TlsTestCerts.makeServer().certPath
      val untrusted = graft.sink.kafka.WireFrameProducer.fromBootstrap(
        s"wire+tls://localhost:${broker.port}?ca=$otherCa").get
      intercept[Exception](untrusted.produce(frames))
      assert(broker.receivedSeq.size == 12,
        "a producer with an untrusted CA delivered frames")
    } finally broker.close()
  }

  test("wire+tls bootstrap delivers end to end through StreamingPipeline.start") {
    // the shipped delivery path — the bootstrap string → WireEndpoint parse
    // → WireFrameProducer's per-task TLS producers under foreachBatch —
    // must keep the TLS identity and deliver the same frames the parquet
    // stand-in writes for the same backlog
    import java.nio.file.{Files, Paths}
    import graft.operators.Routing
    import graft.source.wal.{WalFixture, WalLog}
    import graft.streaming.StreamingPipeline
    val spark = SparkTestBase.spark
    val creds = TlsTestCerts.makeServer()
    val broker = new FakeKafkaBroker(Map("cdc.click" -> 2,
      "cdc.purchase" -> 2, "cdc.signup" -> 1, "cdc.view" -> 1),
      tls = Some(creds.context))
    try {
      val walDir = Files.createTempDirectory("graft-tlswal").toString
      val seen = scala.collection.mutable.Set.empty[String]
      val events = (1L to 40L).map(i => WalFixture.Ev(i,
        1700000000000000L + i * 1000000L, i % 5,
        Seq("click", "purchase", "signup", "view")(i.toInt % 4), i * 0.5, "{}"))
      WalLog.write(Paths.get(walDir, "00000000.wal"),
        events.iterator.flatMap(e => WalFixture.frames(e, seen)))
      def drain(bootstrap: Option[String]): String = {
        val out = Files.createTempDirectory("graft-tlsout").toString
        val ckpt = Files.createTempDirectory("graft-tlsck").toString
        val q = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
          ckpt, out, kafkaBootstrap = bootstrap, triggerMs = 25L)
        try q.processAllAvailable() finally q.stop()
        out
      }
      drain(Some(s"wire+tls://localhost:${broker.port}?ca=${creds.certPath}"))
      import spark.implicits._
      val expected = spark.read.parquet(drain(None))
        .select("topic", "value").as[(String, String)].collect().toSeq.sorted
      val onBroker = broker.receivedSeq.map(r => (r._1, r._4)).sorted
      assert(onBroker.nonEmpty, "no frames delivered over the TLS wire")
      assert(onBroker == expected,
        s"TLS broker holds ${onBroker.size} frames, the stand-in ${expected.size}")
    } finally broker.close()
  }
}
