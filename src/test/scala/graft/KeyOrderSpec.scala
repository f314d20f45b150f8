package graft

import graft.model.ChangeEvent
import graft.operators.Routing
import graft.source.wal.WalFixture
import graft.streaming.StreamingPipeline
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Per-key delivery order on the broker path: CDC consumers rely on each
  * Kafka key's frames arriving in LSN order. Sliced decode
  * (`sliceEvents > 0`) hands the sink unordered partitions and
  * `sinkParallelism > 1` spreads produce over several tasks and
  * connections, so the order has to be restored by the pipeline's
  * key-repartition + LSN sort — across micro-batches too. */
class KeyOrderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("every key's frames reach the broker in ascending meta.lsn order") {
    val broker = new FakeKafkaBroker(Map(
      "cdc.click" -> 3, "cdc.purchase" -> 3, "cdc.signup" -> 3,
      "cdc.view" -> 3))
    try {
      val walDir = Files.createTempDirectory("graft-order-wal").toString
      val ckpt = Files.createTempDirectory("graft-order-ckpt").toString
      // ids repeat every 97 events and purchase keys on user_id (13
      // users), so most keys carry many frames spread over several
      // segments, slices and micro-batches
      WalFixture.writeLog((1L to 3000L).iterator.map(i => WalFixture.Ev(i,
        1700000000000000L + i * 1000L, i % 13,
        Seq("click", "purchase", "signup", "view")(i.toInt % 4), i * 0.5, "{}")),
        walDir, segmentSize = 500)
      val q = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
        ckpt, outDir = walDir + "-unused",
        kafkaBootstrap = Some(s"wire://localhost:${broker.port}"),
        triggerMs = 25L, maxEventsPerBatch = 1000, sinkParallelism = 3,
        sliceEvents = 200)
      try q.processAllAvailable() finally q.stop()

      val lsnRe = """"lsn":"([^"]+)"""".r
      val got = broker.receivedSeq.map { case (topic, _, key, value) =>
        (topic, key, ChangeEvent.lsnValue(lsnRe.findFirstMatchIn(value)
          .map(_.group(1)).getOrElse(fail(s"no lsn in $value"))))
      }
      assert(got.map(r => (r._1, r._3)).distinct.size == got.size,
        "no epoch failed, so no frame may arrive twice")
      val byKey = got.groupBy(r => (r._1, r._2))
      assert(byKey.count(_._2.size >= 4) >= 100,
        s"backlog too thin to test ordering: ${byKey.size} keys")
      byKey.foreach { case (k, rows) =>
        val lsns = rows.map(_._3)
        assert(lsns == lsns.sorted, s"key $k arrived out of LSN order: $lsns")
      }
    } finally broker.close()
  }
}
