package graft.sink.kafka

import org.apache.spark.sql.{DataFrame, Row}

/** [[graft.sink.FrameProducer]] over the in-repo wire client: each Spark
  * partition task opens its own connection (at scale, one producer socket
  * per executor task), streams its rows through `send` (queue-full
  * backpressure and size-triggered batching inside), and closes through
  * `flush` — so the TASK only succeeds once every record it produced is
  * acked by the broker.
  * A delivery failure throws: Spark fails the epoch and restart-from-
  * checkpoint redelivers (at-least-once; consumers dedup on meta.lsn) —
  * the reference's fail-fast + slot-resend contract
  * (reference: src/sink/kafka/producer.zig:430-502) running against a real
  * socket instead of a seam.
  *
  * Select the wire path with a `wire://host:port` bootstrap string.
  */
final class WireFrameProducer(host: String, port: Int,
    tls: Option[graft.source.postgres.PgTls.SslConfig] = None,
    sasl: Option[KafkaSasl.Config] = None)
    extends graft.sink.FrameProducer with Serializable {

  override def produce(shaped: DataFrame): Unit = {
    val (h, p, t, sa) = (host, port, tls, sasl)
    shaped.selectExpr("topic", "CAST(key AS STRING) AS key",
        "CAST(value AS STRING) AS value")
      .foreachPartition { rows: Iterator[Row] =>
        val prod = new WireProducer(h, p, tls = t, sasl = sa)
        try {
          rows.foreach { r =>
            val key = if (r.isNullAt(1)) null
              else r.getString(1).getBytes("UTF-8")
            prod.send(r.getString(0), key, r.getString(2).getBytes("UTF-8"))
          }
          prod.flush() // delivery barrier — clean return = all acked
        } finally prod.close()
      }
  }
}

object WireFrameProducer {
  /** Parse a `wire://host:port` or `wire+tls://host:port?ca=…[&verify=…]`
    * bootstrap (see [[WireEndpoint]]); None for any other scheme. */
  def fromBootstrap(bootstrap: String,
      env: String => Option[String] = sys.env.get)
      : Option[WireFrameProducer] =
    if (WireEndpoint.accepts(bootstrap)) {
      val ep = WireEndpoint.parse(bootstrap, env)
      // the SASL config MUST ride along (r16 review finding): dropping it
      // here silently downgraded the Main/foreachBatch path to an
      // unauthenticated connect — the exact class the endpoint's
      // validators exist to prevent
      Some(new WireFrameProducer(ep.host, ep.port, ep.tls, ep.sasl))
    } else None
}
