package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming ingest for a continuous aggregate: every micro-batch
  * goes through [[ContinuousAggregate.ingest]] (hypertable append + late-data
  * invalidation), so the cagg's late-data semantics apply to streams too —
  * arrivals below the watermark are re-materialized on the next refresh
  * rather than dropped.
  *
  * foreachBatch is AT-LEAST-ONCE: after a crash the current batch is
  * redelivered with the same batchId. The last ingested id is recorded per
  * CHECKPOINT (batch ids are only meaningful within one checkpoint — a
  * fresh checkpointLocation restarts from 0 and must not be mistaken for a
  * replay), so redelivered batches are skipped. The one remaining
  * duplicate window is a crash BETWEEN the hypertable append and the
  * marker write: rows can then be ingested twice (never lost) — run a
  * batch dedup pass downstream if that matters; exactly-once appends need
  * a transactional sink.
  */
object CaggStream {
  def attach(cagg: ContinuousAggregate, stream: DataFrame,
      checkpointLocation: String,
      refreshEachBatch: Boolean = false): StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(cagg, batch, batchId, checkpointLocation, refreshEachBatch)
      }
      .start()
  }

  /** [[attach]] fed directly from the cagg's raw hypertable through
    * [[graft.sources.Hypertable.readStream]]: per-trigger discovery tails
    * the stream log (O(new files), no re-listing), the start snapshot
    * excludes dead generations by construction, and REWRITES never
    * re-emit, so the raw table's compression/retention policies can run
    * while the cagg pipeline streams — the shape a standing 100 TB
    * ingest actually needs.
    */
  def attachFromHypertable(cagg: ContinuousAggregate,
      ht: graft.sources.Hypertable, checkpointLocation: String,
      startingPosition: String = "earliest",
      refreshEachBatch: Boolean = false): StreamingQuery = {
    val df = ht.readStream(startingPosition = startingPosition)
    // the raw stream surfaces physical partition columns (`_chunk`,
    // `_space*`) — ingest re-routes rows itself, so strip them
    val clean = df.drop("_chunk")
      .drop(df.columns.filter(_.startsWith("_space")).toIndexedSeq: _*)
    attach(cagg, clean, checkpointLocation, refreshEachBatch)
  }

  /** One micro-batch: ingest unless this checkpoint's `batchId` was
    * already processed.
    */
  private[streaming] def processBatch(cagg: ContinuousAggregate,
      batch: DataFrame, batchId: Long, checkpointLocation: String,
      refreshEachBatch: Boolean): Unit = {
    if (batchId > cagg.lastStreamBatch(checkpointLocation)) {
      cagg.ingest(batch)
      cagg.setLastStreamBatch(checkpointLocation, batchId)
    }
    if (refreshEachBatch) { cagg.refreshInvalidated(); () }
  }
}
