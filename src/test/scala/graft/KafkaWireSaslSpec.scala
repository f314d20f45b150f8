package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sink.KafkaSinkConfig
import graft.sink.kafka.{DeliveryFailedException, KafkaSasl, WireEndpoint,
  WireProducer}
import graft.source.postgres.PgTls

/** SASL on the Kafka WIRE producer (r15 VERDICT #4 — the last sink-parity
  * sliver; every managed Kafka requires SASL). Reference contract: the
  * sink's mechanism axis PLAIN / SCRAM-SHA-256 / SCRAM-SHA-512 with the
  * password from a configured env var, and security.protocol derived from
  * the tls×sasl axes (/root/reference/src/config/config.zig:28,61-85,
  * 194-198). Exercised against the in-process broker speaking the real
  * SaslHandshake/SaslAuthenticate exchange: accept AND wrong-password
  * reject per mechanism, pre-auth data APIs fail, and SASL_SSL composes
  * the exchange over the TLS transport. The SCRAM client is the SAME
  * hash-parameterized core the live-PostgreSQL tier authenticates with.
  */
class KafkaWireSaslSpec extends AnyFunSuite {

  private val users = Map("svc" -> "s3cret", "u=2," -> "oddpw")
  private def saslBroker(mechs: Set[String] = KafkaSasl.Mechanisms) =
    new FakeKafkaBroker(Map("t" -> 2),
      sasl = Some(KafkaSasl.ServerConfig(users, mechs)))

  private def deliver(p: WireProducer): Unit = {
    p.testConnection(Seq("t"))
    (1 to 10).foreach(i => p.send("t", s"k$i".getBytes, s"v$i".getBytes))
    p.flush()
    assert(p.deliveryErrorCount == 0)
  }

  Seq("PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512").foreach { mech =>
    test(s"$mech: correct password authenticates and delivers end-to-end") {
      val broker = saslBroker()
      try {
        val p = new WireProducer("localhost", broker.port,
          sasl = Some(KafkaSasl.Config(mech, "svc", "s3cret")))
        try deliver(p) finally p.close()
        assert(broker.receivedSeq.size == 10)
      } finally broker.close()
    }

    test(s"$mech: wrong password is rejected before any data API") {
      val broker = saslBroker()
      try {
        val p = new WireProducer("localhost", broker.port,
          sasl = Some(KafkaSasl.Config(mech, "svc", "wrong")))
        try {
          val e = intercept[DeliveryFailedException](p.testConnection(Seq("t")))
          assert(e.getMessage.contains("58") ||
            e.getMessage.toLowerCase.contains("authentication"),
            s"expected an authentication failure, got: ${e.getMessage}")
        } finally p.abortClose()
        assert(broker.receivedSeq.isEmpty)
      } finally broker.close()
    }
  }

  test("SCRAM saslname escaping: '=' and ',' in the username round-trip") {
    val broker = saslBroker()
    try {
      val p = new WireProducer("localhost", broker.port,
        sasl = Some(KafkaSasl.Config("SCRAM-SHA-256", "u=2,", "oddpw")))
      try deliver(p) finally p.close()
    } finally broker.close()
  }

  test("a mechanism the broker does not offer is rejected at handshake") {
    val broker = saslBroker(mechs = Set("SCRAM-SHA-256"))
    try {
      val p = new WireProducer("localhost", broker.port,
        sasl = Some(KafkaSasl.Config("PLAIN", "svc", "s3cret")))
      try {
        val e = intercept[DeliveryFailedException](p.testConnection(Seq("t")))
        assert(e.getMessage.contains("SCRAM-SHA-256"),
          s"handshake error should list offered mechanisms: ${e.getMessage}")
      } finally p.abortClose()
    } finally broker.close()
  }

  test("an unauthenticated producer's data API kills the connection") {
    val broker = saslBroker()
    try {
      // no sasl config at all against a SASL-requiring broker
      val p = new WireProducer("localhost", broker.port)
      try intercept[Exception](deliver(p)) finally p.abortClose()
      assert(broker.receivedSeq.isEmpty)
    } finally broker.close()
  }

  test("SASL_SSL: SCRAM over TLS delivers; wrong password still rejects") {
    val creds = TlsTestCerts.makeServer()
    val broker = new FakeKafkaBroker(Map("t" -> 2),
      tls = Some(creds.context),
      sasl = Some(KafkaSasl.ServerConfig(users)))
    try {
      val tls = Some(PgTls.SslConfig("verify-full",
        Some(creds.certPath.toString)))
      val good = new WireProducer("localhost", broker.port, tls = tls,
        sasl = Some(KafkaSasl.Config("SCRAM-SHA-256", "svc", "s3cret")))
      try deliver(good) finally good.close()
      assert(broker.receivedSeq.size == 10)
      val bad = new WireProducer("localhost", broker.port, tls = tls,
        sasl = Some(KafkaSasl.Config("SCRAM-SHA-256", "svc", "nope")))
      try intercept[DeliveryFailedException](bad.testConnection(Seq("t")))
      finally bad.abortClose()
    } finally broker.close()
  }

  test("fromBootstrap carries SASL through the foreachBatch wire path") {
    // r16 review finding: fromBootstrap dropped ep.sasl, silently
    // downgrading the Main/StreamingPipeline foreachBatch path to an
    // unauthenticated connect — this drives the REAL Spark-task produce
    // through a SASL bootstrap string end to end
    val broker = saslBroker()
    try {
      val boot = s"wire://localhost:${broker.port}" +
        "?saslmech=PLAIN&sasluser=svc&saslpassenv=GRAFT_TEST_SASL_PW"
      val wfp = graft.sink.kafka.WireFrameProducer.fromBootstrap(boot,
        env = n => if (n == "GRAFT_TEST_SASL_PW") Some("s3cret") else None).get
      val spark = SparkTestBase.spark
      import spark.implicits._
      wfp.produce(Seq(("t", "k1", "v1"), ("t", "k2", "v2"))
        .toDF("topic", "key", "value"))
      assert(broker.receivedSeq.size == 2)
    } finally broker.close()
  }

  test("Config.toString and anything embedding it never print the secret") {
    val c = KafkaSasl.Config("PLAIN", "svc", "s3cret")
    assert(!c.toString.contains("s3cret"), c.toString)
    val ep = WireEndpoint.Ep("h", 1, None, Some(c))
    assert(!ep.toString.contains("s3cret"), ep.toString)
  }

  // ---- config routing (KafkaSinkConfig.wireSasl / secureWireBootstrap) ----

  test("wireSasl: SASL_* routes to a config; password resolves from env") {
    val env = Map("KAFKA_PW" -> "s3cret")
    val cfg = KafkaSinkConfig.wireSasl(Map(
      "security.protocol" -> "SASL_SSL",
      "sasl.mechanism" -> "SCRAM-SHA-256",
      "sasl.username" -> "svc",
      "sasl.password.env" -> "KAFKA_PW"), env.get)
    assert(cfg.contains(KafkaSasl.Config("SCRAM-SHA-256", "svc", "s3cret")))
    // SASL_SSL also derives a TLS config (the reference's tls×sasl axes)
    val tls = KafkaSinkConfig.wireTls(Map(
      "security.protocol" -> "SASL_SSL", "ssl.ca.location" -> "/dev/null",
      "ssl.endpoint.identification.algorithm" -> "none"))
    assert(tls.exists(_.mode == "verify-ca"))
    assert(KafkaSinkConfig.wireTls(
      Map("security.protocol" -> "SASL_PLAINTEXT")).isEmpty)
  }

  test("wireSasl: loud failures — unset env, missing fields, stray options") {
    val base = Map("security.protocol" -> "SASL_PLAINTEXT",
      "sasl.mechanism" -> "PLAIN", "sasl.username" -> "svc")
    intercept[IllegalArgumentException] { // env var named but absent
      KafkaSinkConfig.wireSasl(base + ("sasl.password.env" -> "NOPE"),
        _ => None)
    }
    intercept[IllegalArgumentException] { // neither password form
      KafkaSinkConfig.wireSasl(base, _ => None)
    }
    intercept[IllegalArgumentException] { // missing username
      KafkaSinkConfig.wireSasl(Map("security.protocol" -> "SASL_PLAINTEXT",
        "sasl.mechanism" -> "PLAIN", "sasl.password" -> "x"), _ => None)
    }
    intercept[IllegalArgumentException] { // credentials silently ignored
      KafkaSinkConfig.wireSasl(Map("security.protocol" -> "PLAINTEXT",
        "sasl.mechanism" -> "PLAIN"), _ => None)
    }
  }

  test("secureWireBootstrap carries the env NAME; parse resolves and pools by principal") {
    val fakeEnv: String => Option[String] =
      n => if (n == "GRAFT_TEST_SASL_PW") Some("oddpw") else None
    val boot = KafkaSinkConfig.secureWireBootstrap("wire://h:9092", Map(
      "security.protocol" -> "SASL_PLAINTEXT",
      "sasl.mechanism" -> "SCRAM-SHA-256",
      "sasl.username" -> "u=2,",
      "sasl.password.env" -> "GRAFT_TEST_SASL_PW"), fakeEnv)
    assert(!boot.contains("oddpw"),
      s"the secret leaked into the bootstrap string: $boot")
    assert(boot.startsWith("wire://h:9092?"))
    val ep = WireEndpoint.parse(boot, fakeEnv)
    assert(ep.sasl.contains(KafkaSasl.Config("SCRAM-SHA-256", "u=2,",
      "oddpw")))
    assert(!ep.toString.contains("oddpw"), "the secret leaked into the endpoint")
    // the direct-password form cannot ride the string path
    intercept[IllegalArgumentException] {
      KafkaSinkConfig.secureWireBootstrap("wire://h:9092", Map(
        "security.protocol" -> "SASL_PLAINTEXT",
        "sasl.mechanism" -> "PLAIN", "sasl.username" -> "svc",
        "sasl.password" -> "direct"), fakeEnv)
    }
    // re-securing an already-secured bootstrap fails loudly instead of
    // yielding a two-'?' endpoint (r16 advice)
    intercept[IllegalArgumentException] {
      KafkaSinkConfig.secureWireBootstrap(boot, Map(
        "security.protocol" -> "SASL_PLAINTEXT",
        "sasl.mechanism" -> "PLAIN", "sasl.username" -> "svc",
        "sasl.password.env" -> "GRAFT_TEST_SASL_PW"), fakeEnv)
    }
  }

  test("NUL in SASL credentials is rejected at config time (RFC 4616)") {
    intercept[IllegalArgumentException](
      KafkaSasl.Config("PLAIN", "svc\u0000x", "pw"))
    intercept[IllegalArgumentException](
      KafkaSasl.Config("PLAIN", "svc", "pw\u0000x"))
  }

  test("malformed SCRAM client messages answer a protocol error, not a crash") {
    val server = new KafkaSasl.ServerSession(KafkaSasl.ServerConfig(users))
    assert(server.handshake("SCRAM-SHA-256")._1 == 0)
    // client-first missing r=
    val (e1, m1, _) = server.authenticateStep(
      "n,,n=svc".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(e1 == KafkaSasl.ErrAuthenticationFailed && m1.contains("r="))
    // fresh session: valid client-first, then client-final missing p=
    val s2 = new KafkaSasl.ServerSession(KafkaSasl.ServerConfig(users))
    assert(s2.handshake("SCRAM-SHA-256")._1 == 0)
    val (e2a, _, first) = s2.authenticateStep(
      "n,,n=svc,r=abc".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(e2a == 0)
    val nonce = new String(first,
      java.nio.charset.StandardCharsets.UTF_8).split(",")(0).drop(2)
    val (e2b, m2b, _) = s2.authenticateStep(
      s"c=biws,r=$nonce".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(e2b == KafkaSasl.ErrAuthenticationFailed && m2b.contains("p="))
    // and a non-base64 proof
    val s3 = new KafkaSasl.ServerSession(KafkaSasl.ServerConfig(users))
    assert(s3.handshake("SCRAM-SHA-256")._1 == 0)
    val (_, _, f3) = s3.authenticateStep(
      "n,,n=svc,r=abc".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val n3 = new String(f3,
      java.nio.charset.StandardCharsets.UTF_8).split(",")(0).drop(2)
    val (e3, m3, _) = s3.authenticateStep(
      s"c=biws,r=$n3,p=!!notb64!!".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    assert(e3 == KafkaSasl.ErrAuthenticationFailed && m3.contains("base64"))
  }

  test("secureWireBootstrap composes SASL_SSL: wire+tls scheme plus sasl params") {
    val ca = java.nio.file.Files.createTempFile("graft-ca", ".crt")
    try {
      val boot = KafkaSinkConfig.secureWireBootstrap("wire://h:9092", Map(
        "security.protocol" -> "SASL_SSL",
        "ssl.ca.location" -> ca.toString,
        "sasl.mechanism" -> "PLAIN",
        "sasl.username" -> "svc",
        "sasl.password.env" -> "GRAFT_TEST_SASL_PW"), _ => Some("pw"))
      assert(boot.startsWith("wire+tls://h:9092?"))
      assert(boot.contains("verify=full") && boot.contains("saslmech=PLAIN"))
      val ep = WireEndpoint.parse(boot, _ => Some("pw"))
      assert(ep.tls.exists(_.mode == "verify-full"))
      assert(ep.sasl.exists(_.mechanism == "PLAIN"))
    } finally java.nio.file.Files.deleteIfExists(ca)
  }
}
