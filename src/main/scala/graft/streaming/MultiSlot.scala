package graft.streaming

import graft.config.StreamDef
import graft.source.wal.{PgWalSource, WalLog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Multi-slot ingest — the engine's scale-out axis (SURVEY §7: parallelism
  * is per-stream/per-slot, matching Postgres logical replication's own unit
  * of parallelism: one walsender per slot).
  *
  * Spark-native shape: each slot is an INDEPENDENT streaming query over its
  * own WAL directory, all inside one SparkSession. Spark's scheduler
  * interleaves the slots' micro-batches across the executor pool, so N slots
  * drain concurrently without any coordination layer; isolation comes from
  * the per-slot checkpoint directory, per-slot confirmed-LSN file, and
  * per-slot sink subdirectory. On a 1000-executor cluster the same code
  * runs the N walsenders' decode/route/serialize work wherever there are
  * free cores — no slot is pinned to a machine.
  *
  * Sink layout: `baseOutDir/slot=<name>/…` — Hive-style, so a batch read of
  * `baseOutDir` exposes the slot as a partition column and unions all slots
  * for free (each streaming sink keeps its own `_spark_metadata`, which two
  * queries must never share).
  */
object MultiSlot {

  final case class SlotSpec(name: String, walDir: String) {
    require(name.matches("[a-zA-Z0-9_-]+"), s"invalid slot name: '$name'")
  }

  final case class SlotHandle(spec: SlotSpec, query: StreamingQuery) {
    /** The slot's durable restart point (advances only after sink epochs). */
    def confirmed: Long = WalLog.confirmed(spec.walDir)
  }

  def start(spark: SparkSession, slots: Seq[SlotSpec], streams: Seq[StreamDef],
      baseCheckpointDir: String, baseOutDir: String,
      kafkaBootstrap: Option[String] = None,
      triggerMs: Long = 100L,
      maxEventsPerBatch: Int = PgWalSource.DefaultBatchSize,
      sinkParallelism: Int = 1,
      sliceEvents: Int = 0): Seq[SlotHandle] = {
    require(slots.nonEmpty, "no slots")
    require(slots.map(_.name).distinct.size == slots.size,
      s"duplicate slot names in ${slots.map(_.name)}")
    require(slots.map(_.walDir).distinct.size == slots.size,
      s"slots must not share a WAL dir (the confirmed-LSN file is per-dir)")
    slots.map { s =>
      SlotHandle(s, StreamingPipeline.start(
        spark, s.walDir, streams,
        checkpointDir = s"$baseCheckpointDir/${s.name}",
        outDir = s"$baseOutDir/slot=${s.name}",
        kafkaBootstrap = kafkaBootstrap, triggerMs = triggerMs,
        maxEventsPerBatch = maxEventsPerBatch,
        sinkParallelism = sinkParallelism, sliceEvents = sliceEvents))
    }
  }

  /** Block until every slot has processed its available backlog. The queries
    * run concurrently the whole time — this only sequences the WAITING. */
  def drainAll(handles: Seq[SlotHandle]): Unit =
    handles.foreach(_.query.processAllAvailable())

  def stopAll(handles: Seq[SlotHandle]): Unit =
    handles.foreach(_.query.stop())
}
