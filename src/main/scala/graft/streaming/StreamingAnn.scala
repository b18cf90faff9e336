package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.pipeline.AnnIndex
import graft.sources.StoreTables

/** Continuous vector ingestion into a persisted [[graft.pipeline
  * .AnnIndex]] — the streaming face of `AnnIndex.appendNew`, for
  * pipelines that embed documents as they arrive and want them
  * searchable without rebuilding the index. Mirrors
  * [[StreamingDedup.curateAgainstStore]]'s commit protocol exactly:
  * the index is the accumulated state, each micro-batch is a delta,
  * and replays must not double-insert.
  *
  * EXACTLY-ONCE: each epoch retires any half-published previous
  * attempt of itself (per-tag deterministic file names,
  * [[graft.sources.EpochFiles]]), recomputes its delta against the
  * restored index ([[AnnIndex.appendEpoch]]'s anti-join — a pure
  * function of the restored index frame), publishes, then writes an
  * atomic commit marker (`<root>/_epochs/<id>`,
  * [[graft.sources.StoreTables.commit]]). A
  * replayed committed epoch is a no-op; a crashed attempt is rolled
  * back and redone identically. The coarse/PQ models are loaded once
  * per query and reused across epochs — they are immutable between
  * retrains, and a retrain (AnnIndex.build) must not run under a live
  * ingest for the same reason compaction must not.
  *
  * Scale: per epoch, membership comes from the id census sidecar
  * ([[graft.sources.IdCensus]] — a stats-pruned point-lookup read
  * whose cost follows the MICRO-BATCH, flat under index growth; never
  * a full id-column scan + distinct per trigger); encode cost is paid
  * by the delta alone; the appended files are bucket-clustered within
  * themselves. After many epochs run [[AnnIndex.compact]] +
  * [[AnnIndex.recluster]] between batches to restore file sizes and
  * global bucket clustering.
  */
object StreamingAnn {

  /** Start the ingest: `vectors` is a streaming frame carrying
    * (`idCol`, `vecCol`). Callers own id uniqueness ACROSS sources;
    * within the stream, re-deliveries and overlapping snapshots are
    * deduplicated by the delta anti-join.
    */
  def ingestIntoIndex(vectors: DataFrame, idCol: String, vecCol: String,
                      indexRoot: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // models load once, on the driver, from the persisted index —
    // NOT per epoch (they are megabytes and immutable between retrains)
    val handle = AnnIndex.open(vectors.sparkSession, indexRoot)
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processEpoch(batch, batchId, idCol, vecCol, handle)
      }
      .start()
  }

  /** One ingest epoch under the exactly-once protocol —
    * package-visible so specs can drive crash/replay scenarios
    * (a marker-less partial attempt followed by a replay) without
    * killing a live streaming query.
    */
  private[streaming] def processEpoch(batch: DataFrame, batchId: Long,
                                      idCol: String, vecCol: String,
                                      handle: AnnIndex.Handle): Unit = {
    val sess = batch.sparkSession
    if (StoreTables.committed(sess, handle.root, batchId) || batch.isEmpty) return
    AnnIndex.appendEpoch(handle, batch, idCol, vecCol, s"e$batchId")
    // commit point: the marker exists only if the publish completed,
    // so replays of anything earlier redo cleanly
    StoreTables.commit(sess, handle.root, batchId)
    // foreachBatch runs on a CLONED session whose refresh does not
    // evict the outer session's listing cache; refresh so searches on
    // the outer session see the published files
    sess.catalog.refreshByPath(handle.indexPath)
  }
}
