package graft.streaming

import graft.sim.AnnIndexStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming half of the versioned ANN index lifecycle (r18 VERDICT #2):
  * an ingest stream of raw vectors appends drift-gated micro-batches to
  * the LIVE index version while [[AnnServeStream]] serves it, with a
  * compact or retrain flipping CURRENT mid-stream.
  *
  * Split of responsibilities, matching the deployment shape:
  *  - **[[ingest]]** (`foreachBatch`, the UpsertState/SCD2 mold): each
  *    micro-batch runs `AnnIndexStore.appendOrRetrain` — ONE lifecycle
  *    decision per batch, recorded and surfaced via `decisions` so the
  *    choice is artifact data; the batch's raw vectors then join the
  *    on-disk corpus (the retrain input) AFTER the decision, so the
  *    decision always compares "batch vs the corpus the codebook was
  *    trained against so far".
  *  - **[[ServingHandle]]** (the serving side's view of the flip): serving
  *    reads an immutable `v<N>` dir resolved through CURRENT, so a flip
  *    mid-stream is invisible until the server REFRESHES — old version
  *    until the refresh, new version after, never a torn mix (the swap is
  *    one atomic rename; `AnnIngestStreamSpec` pins both sides of the
  *    boundary). `refreshIfFlipped()` between micro-batches is the
  *    serving loop's one lifecycle obligation.
  *
  * Consistency boundary: the same one-dedup-boundary idea as the
  * snapshot-then-stream handoff (reference: src/e2e/snapshot_test.zig:12-24
  * — rows seen through the old snapshot vs the stream dedup at one LSN
  * boundary, never a mix) — here the boundary is an index VERSION: a
  * micro-batch of queries is answered entirely by one version.
  *
  * Scale shape: the decision is one (label, dim, side) aggregate over
  * corpus+batch (64·labels·2 rows out) plus a label-distinct anti-join;
  * append is one encode of the batch against the frozen broadcast
  * codebook; only a retrain pays a corpus-sized train. The corpus dir is
  * plain parquet — at 100 TB it is the raw-vector table the deployment
  * already has, not a copy.
  *
  * Delivery note: `foreachBatch` is at-least-once on restart — a replayed
  * batch would re-append its vectors. A deployment writes the corpus
  * batch under a batchId-derived path (idempotent overwrite); kept simple here
  * because the lifecycle decision, not sink idempotence, is what this
  * stream adds.
  */
object AnnIngestStream {

  /** One recorded lifecycle step: which micro-batch, what the gate chose. */
  final case class BatchDecision(batchId: Long,
      decision: AnnIndexStore.Decision)

  /** The serving side of a live index: holds the prepared (pre-partitioned
    * + persisted) serving form of ONE version and re-resolves CURRENT on
    * demand. All reads between two `refreshIfFlipped()` calls are answered
    * by the same immutable version — the flip is never observed mid-batch. */
  final class ServingHandle(spark: SparkSession, dir: String,
      numPartitions: Int = 0) {
    @volatile private var v: Int = AnnIndexStore.currentVersion(dir)
    @volatile private var idx: AnnServeStream.TrainedServeIndex =
      AnnIndexStore.load(spark, dir, numPartitions)

    /** Version currently being served. */
    def version: Int = v

    /** The prepared index for [[AnnServeStream.serveFast]]. */
    def index: AnnServeStream.TrainedServeIndex = idx

    /** Re-resolve CURRENT; on a flip, prepare the new version and release
      * the old one's cached blocks. Returns true iff a flip was adopted.
      * Call BETWEEN serving micro-batches (the foreachBatch seam). */
    def refreshIfFlipped(): Boolean = {
      val cur = AnnIndexStore.currentVersion(dir)
      if (cur == v) false
      else {
        val next = AnnIndexStore.load(spark, dir, numPartitions)
        val old = idx
        idx = next
        v = cur
        old.release()
        true
      }
    }

    def release(): Unit = idx.release()
  }

  /** Start the lifecycle ingest: every micro-batch of `(vec_id, label,
    * embedding)` rows runs the drift gate against the live index at `dir`
    * (corpus state at `corpusDir`, which must hold the vectors the index
    * was trained on), appends or retrains accordingly, then adds the batch
    * to the corpus. Decisions land in `onDecision` in batch order. */
  def ingest(vectors: DataFrame, dir: String, corpusDir: String,
      barE12: Long, maxFiles: Int = 16,
      checkpointDir: Option[String] = None)
      (onDecision: BatchDecision => Unit): StreamingQuery = {
    val spark = vectors.sparkSession
    val w = vectors.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        if (!batch.isEmpty) {
          val corpus = spark.read.parquet(corpusDir)
            .select("vec_id", "label", "embedding")
          val d = AnnIndexStore.appendOrRetrain(
            spark, dir, corpus, batch.toDF(), barE12, maxFiles)
          // the batch joins the corpus AFTER the decision — the next
          // batch's gate compares against everything indexed so far
          batch.select("vec_id", "label", "embedding")
            .write.mode("append").parquet(corpusDir)
          onDecision(BatchDecision(id, d))
        }
        ()
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }
}
