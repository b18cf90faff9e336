package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.pipeline.Dedup
import graft.sources.StoreTables

/** Online corpus deduplication — the streaming face of the batch dedup
  * tier in pipeline/Dedup.scala, for pipelines that admit documents
  * continuously instead of re-scanning the corpus per drop.
  *
  * Two tiers, mirroring batch:
  *  - EXACT: first-seen-wins on the content digest, state bounded by an
  *    event-time watermark (`dropDuplicatesWithinWatermark` — the state
  *    store holds one digest per doc inside the lateness horizon, not
  *    forever).
  *  - NEAR: MinHash band buckets as streaming keys. Each (band, bucket)
  *    keeps its FIRST occupant in keyed state; later arrivals hashing
  *    into an occupied bucket emit a candidate (doc, dup_of) edge —
  *    the streaming analog of the batch LSH bucket join, with the same
  *    cost shape (fixed-width signatures through the shuffle, never
  *    documents). Candidates are estimates, exactly like batch LSH:
  *    verify survivors with the Jaccard tier before destructive drops.
  *
  * State sizing at scale: exact-tier state is |docs in watermark| × one
  * digest; near-tier state is |occupied buckets| × (band key + one doc
  * id) — both independent of document size, both partitioned across
  * executors by the state store.
  */
object StreamingDedup {

  /** Drop exact-content duplicates within the watermark horizon.
    * `eventTimeCol` must already be a timestamp column; the returned
    * frame keeps the input schema (first occurrence of each digest
    * survives; re-deliveries inside the horizon are dropped, and state
    * for digests older than the watermark is evicted).
    */
  def exactWithinWatermark(df: DataFrame, textCol: String, eventTimeCol: String,
                           delay: String): DataFrame = {
    require(!df.columns.contains("__digest"),
      "__digest is reserved by exactWithinWatermark — rename the input's first " +
        "(silently overwriting it would drop a user column from the output)")
    // sha2-256, NOT xxhash64: this digest DROPS documents, and at 1e9+
    // docs inside the horizon 64-bit birthday collisions are expected —
    // same reasoning as the batch exact tier (Dedup.exactGroups)
    df.withColumn("__digest", sha2(col(textCol), 256))
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")
  }

  /** A near-dup candidate: `doc_id` collided with earlier `dup_of` in
    * LSH band `band`.
    */
  final case class NearDupHit(doc_id: Long, dup_of: Long, band: Int)

  // public (not private): Encoder codegen instantiates these from
  // generated bytecode, which cannot touch private classes
  final case class BucketEvent(band: Int, bucket: Long, doc_id: Long)
  final case class BucketState(firstDoc: Long)

  /** Streaming LSH near-dup candidates over (id, text) rows. Signatures
    * AND banding reuse the batch kernels (Dedup.minHashSignature +
    * Dedup.bandedFrame), so a document streams into the exact bucket it
    * would land in batch — run in batch mode, the hits equal
    * Dedup.lshStarEdges (spec'd). Downstream dedups bands and runs the
    * exact-Jaccard verify tier, same as batch.
    */
  def nearDupCandidates(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16): Dataset[NearDupHit] = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val rows = numHashes / bands
    val spark = docs.sparkSession
    import spark.implicits._
    val signed = docs.select(col(idCol).cast("long").as("id"),
        Dedup.minHashSignature(Dedup.shingles(textCol, 3), numHashes).as("sig"))
      .filter(size(col("sig")) === numHashes)
    val events = Dedup.bandedFrame(signed, "id", "sig", bands, rows)
      .select(col("band").cast("int").as("band"), col("bucket"),
        col("id").as("doc_id"))
      .as[BucketEvent]
    implicit val stateEnc: Encoder[BucketState] = Encoders.product[BucketState]
    events.groupByKey(e => (e.band, e.bucket))
      .mapGroupsWithState[BucketState, Seq[NearDupHit]](
        GroupStateTimeout.NoTimeout()) {
        case ((band, _), evs, state: GroupState[BucketState]) =>
          // deterministic within a batch: the lowest doc id claims an
          // empty bucket, every other member becomes a candidate
          val batch = evs.map(_.doc_id).toSeq.distinct.sorted
          state.getOption match {
            case Some(BucketState(first)) =>
              batch.filter(_ != first).map(d => NearDupHit(d, first, band))
            case None =>
              state.update(BucketState(batch.head))
              batch.tail.map(d => NearDupHit(d, batch.head, band))
          }
      }.flatMap(identity)
  }

  /** Continuous curation against a persisted
    * [[graft.pipeline.Dedup.NearDupStore]]: each micro-batch is
    * EXACT-verified against the whole corpus history — the store plus
    * every prior batch's survivors, which advance it — and survivors
    * land in `outDir`. The streaming form of the batch
    * `transform.lshDedup` stage with the identical drop rule, so a
    * pipeline can curate its backfill in batch and keep curating the
    * live feed without a second dedup implementation.
    *
    * EXACTLY-ONCE: every epoch runs the commit protocol in
    * [[processEpoch]] — rollback any half-published previous attempt
    * of this epoch, recompute survivors against the restored store,
    * publish survivors and the store's three table deltas under
    * deterministic per-epoch file names
    * ([[graft.sources.EpochFiles]]), then write an atomic commit
    * marker (`<outDir>/_epochs/<id>`,
    * [[graft.sources.StoreTables.commit]]). A replayed epoch
    * whose marker exists is a no-op; one whose attempt died anywhere
    * mid-protocol is rolled back to the pre-epoch store/output state
    * and redone identically (the drop decision is deterministic given
    * the restored store). Neither `outDir` nor the store can
    * double-count a micro-batch.
    */
  def curateAgainstStore(docs: DataFrame, idCol: String, textCol: String,
                         storePath: String, outDir: String,
                         checkpointDir: String,
                         thresholdNum: Int = 9, thresholdDenom: Int = 10)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processEpoch(batch, batchId, idCol, textCol, storePath, outDir,
          thresholdNum, thresholdDenom)
      }
      .start()

  /** One epoch of store curation under the exactly-once protocol —
    * package-visible so specs can drive crash/replay scenarios
    * directly (a marker-less partial attempt followed by a replay)
    * without killing a live streaming query.
    */
  private[streaming] def processEpoch(batch: DataFrame, batchId: Long,
                                      idCol: String, textCol: String,
                                      storePath: String, outDir: String,
                                      thresholdNum: Int, thresholdDenom: Int): Unit = {
    val sess = batch.sparkSession
    if (StoreTables.committed(sess, outDir, batchId) || batch.isEmpty) return
    val tag = s"e$batchId"
    val out = StoreTables.sink(outDir, idCol)
    // a previous attempt of this epoch may have died mid-publish:
    // restore the pre-epoch store and output before recomputing
    Dedup.NearDupStore.rollbackAdvance(sess, storePath, tag)
    StoreTables.rollback(sess, out, tag)
    val survivors = graft.Checkpoints.materialize(
      Dedup.NearDupStore.dropNearDups(batch, idCol, textCol, storePath,
        thresholdNum = thresholdNum, thresholdDenom = thresholdDenom,
        advance = false))
    StoreTables.publishWith(sess, out, out.tables.head, tag)(
      survivors.write.mode("overwrite").parquet(_))
    Dedup.NearDupStore.advanceStaged(survivors, idCol, textCol, storePath, tag)
    // commit point: the marker exists only if everything above
    // completed, so replays of anything earlier redo cleanly
    StoreTables.commit(sess, outDir, batchId)
    // foreachBatch runs on a CLONED session whose refresh does not
    // evict the outer session's listing cache; refresh so the NEXT
    // batch and outside readers of this session see the publish
    sess.catalog.refreshByPath(outDir)
    // committed — the auto-compact policy may fold accumulated advance
    // files HERE, strictly after the marker. The fold is MINOR
    // (per-tag override files only, I/O ∝ override bytes — see
    // graft.sources.StoreTables.foldOverrides): row-preserving and
    // all-or-nothing per table (foldFiles' roll-forward marker), so a
    // crash anywhere inside leaves a consistent store, this epoch's
    // replay short-circuits on the marker, and the only tag names the
    // fold destroys belong to COMMITTED epochs no replay will retire.
    // (Folding inside advanceStaged would sit BEFORE the marker — a
    // crash there would let a replay double-append the epoch.)
    StoreTables.autoCompact(sess, Dedup.NearDupStore.tables(sess, storePath))
    ()
  }
}
