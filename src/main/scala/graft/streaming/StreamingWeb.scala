package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.pipeline.Web
import graft.sources.StoreTables

/** Continuous line-level curation against the persisted line census —
  * the streaming twin of `transform.lineDedup.censusDir`: each
  * micro-batch's documents lose every line the census (or the batch
  * itself) has already seen, survivors land in `outDir`, and the
  * batch's line stats advance the census so the NEXT batch dedups
  * against it. Exactly-once end to end under the same epoch-marker
  * protocol as [[StreamingDedup.curateAgainstStore]]: per-epoch
  * deterministic file names for both the output and the census delta
  * ([[graft.sources.EpochFiles]]), rollback-then-redo for a replayed
  * marker-less epoch, no-op for a marked one. Neither `outDir` nor the
  * census can double-count a micro-batch.
  */
object StreamingWeb {

  def curateLines(docs: DataFrame, idCol: String, textCol: String,
                  censusDir: String, outDir: String, checkpointDir: String,
                  minDupCount: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processEpoch(batch, batchId, idCol, textCol, censusDir, outDir,
          minDupCount)
      }
      .start()

  /** One epoch — package-visible so specs can drive crash/replay
    * scenarios directly (the [[StreamingDedup.processEpoch]]
    * discipline).
    */
  private[streaming] def processEpoch(batch: DataFrame, batchId: Long,
                                      idCol: String, textCol: String,
                                      censusDir: String, outDir: String,
                                      minDupCount: Int): Unit = {
    val sess = batch.sparkSession
    if (StoreTables.committed(sess, outDir, batchId) || batch.isEmpty) return
    val tag = s"e$batchId"
    val out = StoreTables.sink(outDir, idCol)
    // a previous attempt may have died mid-publish: retire its output
    // and census delta before recomputing — the probe is deterministic
    // given the restored census, so the redo is identical
    Web.rollbackLineAdvance(sess, censusDir, tag)
    StoreTables.rollback(sess, out, tag)
    // materialize BEFORE advancing (the lazy probe would otherwise
    // read the census after this epoch's delta landed and count the
    // batch against itself)
    val survivors = graft.Checkpoints.materialize(
      Web.lineDedupAgainst(censusDir, batch, idCol, textCol, minDupCount))
    StoreTables.publishWith(sess, out, out.tables.head, tag)(
      survivors.write.mode("overwrite").parquet(_))
    Web.advanceStagedLineCensus(batch, idCol, textCol, censusDir, tag)
    // commit point: the marker exists only if everything above completed
    StoreTables.commit(sess, outDir, batchId)
    sess.catalog.refreshByPath(outDir)
    // committed — the auto-compact policy may fold accumulated census
    // epoch deltas HERE, strictly after the marker (the StreamingDedup
    // discipline). The fold is MINOR (override deltas only, I/O ∝
    // override bytes — see Web.minorCompactLineCensus): the
    // within-subset occ/first-locator aggregate is probe-equivalent by
    // the read-time fold contract, a replay of THIS epoch
    // short-circuits on its marker, and the only per-tag names
    // destroyed belong to COMMITTED epochs no replay will retire.
    StoreTables.autoCompact(sess, Web.lineCensusTables(censusDir))
    ()
  }
}
