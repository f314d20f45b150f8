package graft.streaming

import graft.config.StreamDef
import graft.operators.Routing
import graft.source.wal.PgWalSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** M3 — the steady-state streaming job: WAL source → routing fan-out →
  * serialize-once → per-stream Kafka frames, with per-batch metrics.
  *
  * Spark-native equivalents of the reference's processor loop
  * (src/processor/processor.zig:347-406):
  *  - micro-batch cadence  ≈ receiveBatchWithWaitTime (trigger interval +
  *    source-side admission control)
  *  - routing fan-out + foreachBatch produce ≈ matchStreams +
  *    per-stream produce
  *  - checkpointing + source.commit ≈ flushCommitWorker's
  *    flush-then-confirm-LSN (Spark invokes commit only after the sink
  *    completes the epoch — the same at-least-once contract)
  *  - observe() metrics    ≈ tallyEvent / setLag
  */
object StreamingPipeline {

  /** Open the WAL change stream (see [[graft.source.wal.PgWalSource]]).
    * `sliceEvents > 0` splits each micro-batch into one input partition per
    * `sliceEvents` data events for parallel decode (order restored downstream
    * by lsn_num where a sink needs it). */
  def walStream(spark: SparkSession, walDir: String,
      maxEventsPerBatch: Int = PgWalSource.DefaultBatchSize,
      sliceEvents: Int = 0): DataFrame =
    spark.readStream
      .format(classOf[PgWalSource].getName)
      .option("path", walDir)
      .option("maxEventsPerBatch", maxEventsPerBatch.toString)
      .option("sliceEvents", sliceEvents.toString)
      .load()

  /** Routed, serialized, Kafka-shaped frame (topic, key, value) from the
    * envelope stream. Serialize-once happens upstream of the routing
    * fan-out; the key is extracted from the JSON payload by the
    * stream's routing_key. */
  def kafkaFrame(events: DataFrame, streams: Seq[StreamDef]): DataFrame = {
    // one envelope formatter for the whole engine (JsonEnvelope owns the
    // field order and escaping rules; the stream's `source` is the constant
    // the envelope hardcodes). Routing is the inline form — zero exchanges,
    // no per-batch broadcast build; the broadcast-join form
    // (Routing.route) stays as the reference RoutingInlineSpec pins
    // row-identity against.
    val routed = Routing.routeInline(
      events.withColumn("value",
        graft.serialization.JsonEnvelope.envelopeCol(
          op = col("op"), dataJson = col("data"), resource = col("resource"),
          timestamp = col("commit_ts"), lsn = col("lsn"))),
      streams)
    // Routing-key extraction from the JSON row payload. The key set is
    // closed (it comes from config), so this folds into a CASE over constant
    // JSON paths — codegen-friendly, unlike a dynamic path. A missing key
    // becomes an empty Kafka key (the strict variant raises,
    // PartitionKey.requireKey).
    val keyNames = streams.map(_.routingKey).distinct
    val keyCol = keyNames.foldLeft(lit(null).cast("string")) { (acc, k) =>
      when(col("routing_key") === k, get_json_object(col("data"), s"$$.$k"))
        .otherwise(acc)
    }
    routed
      .withColumn("key", coalesce(keyCol, lit("")))
      .select("topic", "key", "value", "stream", "lsn", "lsn_num", "op",
        "resource", "commit_ts")
  }

  /** The per-(stream, op) tally pairs, in the fixed order the observe()
    * columns are emitted (A1; reference processor.zig:174-183). The stream
    * set is closed config, so the tally is a handful of codegen'd
    * conditional-sum aggregates riding the existing observation — zero extra
    * jobs, zero driver-side collect. [[graft.metrics.GraftQueryListener]]
    * reads them back positionally through this same function. */
  def tallyPairs(streams: Seq[StreamDef]): Seq[(String, String)] =
    streams.flatMap { s =>
      val n = s.normalized
      n.operations.map(op => (n.name, op))
    }

  private def observed(frame: DataFrame, streams: Seq[StreamDef]): DataFrame = {
    val tallies = tallyPairs(streams).zipWithIndex.map { case ((st, op), i) =>
      sum(when(col("stream") === st && lower(col("op")) === op, 1L)
        .otherwise(0L)).as(s"tally_$i")
    }
    frame.observe("graft",
      count(lit(1)).as("events"),
      (max(col("commit_ts")).as("max_commit_ts") +: tallies): _*)
  }

  /** Start the job. Frames reach one of two outputs:
    *  - a broker, through a [[graft.sink.FrameProducer]] called from
    *    `foreachBatch`: the explicit `producer` if given (fail-injection
    *    tests, custom transports), else one built from `kafkaBootstrap` —
    *    `wire://` / `wire+tls://` selects the in-repo wire producer
    *    ([[graft.sink.kafka.WireFrameProducer]]), any other bootstrap the
    *    stock Kafka sink. This is the path `graft.Main` ships.
    *  - no broker: the parquet stand-in under `outDir`.
    *
    * Per-batch metrics (event count, lag, per-(stream,op) tallies) all ride
    * the `observe()` aggregates — consume them by attaching a
    * [[graft.metrics.GraftQueryListener]] built with the same `streams`.
    *
    * Broker delivery: hash-partitioning by Kafka key + sorting by LSN
    * within partitions restores the per-key delivery order CDC consumers
    * rely on while spreading produce over `sinkParallelism` tasks. Delivery
    * is at-least-once on batch retry — the reference's contract; consumers
    * dedup on meta.lsn.
    *
    * The stand-in writes through Spark's native streaming parquet sink —
    * no foreachBatch, so each micro-batch reuses the incremental plan
    * instead of re-deriving a batch write plan (~0.3 s per batch back),
    * and its `_spark_metadata` log makes the output exactly-once per
    * (topic, lsn) across crash/restart.
    *
    * Async progress tracking (offset- and commit-log writes off the
    * per-batch critical path) is one writer option away on the broker
    * path: Spark 4.1.2's `AsyncProgressTrackingMicroBatchExecution`
    * allowlists only its own sinks, but skips that check whenever
    * `ASYNC_PROGRESS_TRACKING_OVERRIDE_SINK_SUPPORT_CHECK` is set, which
    * admits `foreachBatch` (Bench's `ann_serve` runs that way). It only
    * widens the post-crash redelivery window, which consumers already
    * absorb by deduping on meta.lsn. */
  def start(spark: SparkSession, walDir: String, streams: Seq[StreamDef],
      checkpointDir: String, outDir: String,
      kafkaBootstrap: Option[String] = None,
      triggerMs: Long = 100L,
      maxEventsPerBatch: Int = PgWalSource.DefaultBatchSize,
      sinkParallelism: Int = 1,
      sliceEvents: Int = 0,
      producer: Option[graft.sink.FrameProducer] = None): StreamingQuery = {
    val frame = observed(
      kafkaFrame(walStream(spark, walDir, maxEventsPerBatch, sliceEvents), streams),
      streams)
    val frameProducer: Option[graft.sink.FrameProducer] =
      producer.orElse(kafkaBootstrap.map(graft.sink.FrameProducer.forBootstrap))

    val writer: DataStreamWriter[Row] = frameProducer match {
      case Some(p) =>
        frame.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          // Per-key delivery order: slice partitions (sliceEvents > 0)
          // arrive decode-parallel and UNORDERED across partitions, so the
          // key-repartition + LSN sort is required whenever slicing feeds
          // Kafka — not only when the caller asked for produce parallelism.
          val shaped =
            if (sinkParallelism > 1 || sliceEvents > 0)
              batch.repartition(math.max(sinkParallelism, 1), col("key"))
                .sortWithinPartitions("lsn_num")
            else batch
          // a produce failure propagates: the epoch fails, the query stops,
          // and restart-from-checkpoint redelivers the batch (at-least-once;
          // consumers dedup on meta.lsn)
          p.produce(shaped)
        }
      case None =>
        // `topic` as a column — partitionBy would force a per-batch sort on
        // the partition column, and compression would bill the stand-in for
        // work a Kafka producer doesn't do (measured: snappy 52k ev/s,
        // none 77k)
        frame.writeStream.format("parquet")
          .option("path", outDir)
          .option("compression", "none")
    }
    writer
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .start()
  }
}
