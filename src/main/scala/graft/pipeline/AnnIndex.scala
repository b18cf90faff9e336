package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF-PQ index: the ANN layout that survives sessions the
  * way savepoints survive restarts. One warehouse directory holds
  *
  *   <root>/ivf_model/   k coarse centroids        (Ivf.save)
  *   <root>/pq_model/    m × ksub codebooks         (Pq.save)
  *   <root>/index/       (neighbor_id, bucket, codes) parquet
  *
  * The index frame carries NO vectors — m int codes + a bucket per
  * row — so reopening an index touches megabytes where the corpus is
  * terabytes, and search scans only (id, codes) within probed buckets
  * (Pq.ivfAdcTopK's contract). Model parquet is bit-exact for doubles,
  * so a reopened index reproduces the training session's assignments,
  * codes, and ADC ranks identically (AnnIndexSpec pins all three).
  *
  * Incrementality: [[append]] encodes NEW corpus rows with the SAVED
  * models and appends them to the index frame — no retrain, no
  * re-encode of existing rows. The standard freshness trade applies:
  * centroids/codebooks drift from the true distribution as the corpus
  * grows; retrain (build) when recall degrades, append between.
  *
  * Scale: index/ is written bucket-clustered (repartition + sort on
  * bucket), so each parquet row group covers few buckets and the
  * probe-join's scan skips most row groups on min/max stats.
  */
object AnnIndex {

  final case class Handle(root: String, ivf: Ivf.Model, pq: Pq.Model) {
    def indexPath: String = s"$root/index"
  }

  val DefaultRowsPerFile: Long = graft.sources.StoreTables.DefaultRowsPerFile

  private def annMetaPath(root: String) = root + "/_ann.json"

  /** The index frame's file-granularity policy, pinned in `_ann.json`
    * at build time ([[graft.sources.StoreTables.rowsPerFileOf]]).
    */
  def rowsPerFileOf(spark: SparkSession, root: String): Long =
    graft.sources.StoreTables.rowsPerFileOf(spark, annMetaPath(root))

  /** The index's store tables ([[graft.sources.StoreTables]]): the
    * bucket-clustered code frame and the id census, both folded at the
    * pinned granularity. Rows are delta-unique across tags (the census
    * anti-join), so both resolve by identity.
    */
  def tables(spark: SparkSession, root: String): graft.sources.StoreTables.Store =
    layout(root, rowsPerFileOf(spark, root))

  /** [[tables]] at granularity `g`. */
  private def layout(root: String, g: Long): graft.sources.StoreTables.Store =
    graft.sources.StoreTables.Store(root, Seq(
      graft.sources.StoreTables.Table(s"$root/index", "bucket",
        rowsPerFile = g, shardRows = g),
      graft.sources.IdCensus.table(root, g)))

  /** Pin the tuner's chosen serve-time operating point into the index
    * meta — the knob [[tuneNProbe]] MEASURES but (until pinned) nothing
    * applied: a deployment that re-tunes per retrain wants the chosen
    * (nProbe, kCand) to travel WITH the index, not live in some
    * caller's config that drifts from the index it was measured on.
    * The no-nProbe [[search]]/[[searchPruned]] overloads serve at the
    * pinned point; re-pinning overwrites, the granularity policy is
    * preserved.
    */
  def applyTuning(spark: SparkSession, root: String, nProbe: Int,
                  kCand: Option[Int] = None): Unit = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    kCand.foreach(kc => require(kc >= 1, s"kCand must be >= 1, got $kc"))
    val g = rowsPerFileOf(spark, root)
    val kc = kCand.map(v => s""","tunedKCand":$v""").getOrElse("")
    graft.sources.StoreTables.writeSmall(spark, annMetaPath(root),
      s"""{"rowsPerFile":$g,"tunedNProbe":$nProbe$kc}""")
  }

  /** The pinned serve-time probe width, when [[applyTuning]] ran. */
  def tunedNProbe(spark: SparkSession, root: String): Option[Int] =
    graft.sources.StoreTables.metaField(spark, annMetaPath(root), "tunedNProbe")
      .map(_.toInt)

  /** The pinned rerank over-fetch, when [[applyTuning]] pinned one. */
  def tunedKCand(spark: SparkSession, root: String): Option[Int] =
    graft.sources.StoreTables.metaField(spark, annMetaPath(root), "tunedKCand")
      .map(_.toInt)

  private def requireTuned(spark: SparkSession, root: String): Int =
    tunedNProbe(spark, root).getOrElse(throw new IllegalArgumentException(
      s"no tuned operating point pinned at $root — run `Maintain annindex " +
        "tune ... --apply <recallTarget>` (or AnnIndex.applyTuning), or " +
        "pass nProbe explicitly"))

  /** [[search]] at the index's PINNED operating point — fails loudly
    * on an untuned index rather than inventing a probe width.
    */
  def search(handle: Handle, queries: DataFrame, idCol: String, vecCol: String,
             k: Int): DataFrame =
    search(handle, queries, idCol, vecCol, k,
      requireTuned(queries.sparkSession, handle.root))

  /** [[searchPruned]] at the index's pinned operating point. */
  def searchPruned(handle: Handle, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int): DataFrame =
    searchPruned(handle, queries, idCol, vecCol, k,
      requireTuned(queries.sparkSession, handle.root))

  /** Train both models on `corpus` and write models + the encoded
    * index frame under `root`. `trainSample` caps the rows used for
    * codebook training (PQ quality saturates far below corpus size;
    * at 100 TB you train on a sample and encode everything).
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, root: String,
            kIvf: Int, m: Int = 8, ksub: Int = 16, iters: Int = 3,
            trainSample: Option[Long] = None,
            rowsPerFile: Long = DefaultRowsPerFile): Handle = {
    val spark = corpus.sparkSession
    require(rowsPerFile >= 1L, "rowsPerFile must be >= 1")
    val trainSet = trainSample.fold(corpus)(n => corpus.limit(n.toInt))
    val ivf = Ivf.train(trainSet, idCol, vecCol, kIvf, iters)
    val pq = Pq.train(trainSet, idCol, vecCol, m, ksub, iters)
    Ivf.save(ivf, spark, s"$root/ivf_model")
    Pq.save(pq, spark, s"$root/pq_model")
    graft.sources.StoreTables.writeSmall(spark, annMetaPath(root),
      s"""{"rowsPerFile":$rowsPerFile}""")
    // range-clustered on bucket like every fold of the index, with the
    // bucket stats artifact: planning-time file pruning for forget's
    // pair-deletes (and any probe pushing bucket predicates) —
    // advisory, unknown files always kept
    graft.sources.StoreTables.create(spark, layout(root, rowsPerFile).tables.head,
      encoded(corpus, idCol, vecCol, ivf, pq), "overwrite")
    // id census sidecar: the summary the delta anti-join probes instead
    // of the full index id column (IdCensus's batch-proportional read)
    graft.sources.IdCensus.create(spark, root, indexIds(spark, root), rowsPerFile)
    Handle(root, ivf, pq)
  }

  /** Ground-truth (id, bucket) set of the persisted index frame
    * (column-pruned scan) — what the census is (re)derived from. The
    * bucket rides along so [[forget]] can turn "delete these ids from
    * a BUCKET-clustered frame" into cluster-key-pruned pair-deletes
    * instead of a table scan.
    */
  private def indexIds(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/index")
      .select(col("neighbor_id").as("id"), col("bucket")).distinct()

  /** The census contribution of a batch: its ids plus their coarse
    * bucket under the handle's IVF model — the same assignment
    * [[encoded]] writes into the index frame (PQ codes not needed, so
    * this is the cheap half of encode).
    */
  private def censusRows(rows: DataFrame, idCol: String, vecCol: String,
                         ivf: Ivf.Model): DataFrame =
    rows.select(col(idCol).as("id"),
      Ivf.assignment(col(vecCol), ivf).as("bucket")).distinct()

  /** Reopen a persisted index: loads the two (driver-sized) models;
    * the index frame stays on disk until [[search]] scans it.
    */
  def open(spark: SparkSession, root: String): Handle =
    Handle(root, Ivf.load(spark, s"$root/ivf_model"), Pq.load(spark, s"$root/pq_model"))

  /** Encode new rows with the PERSISTED models and append them to the
    * index frame — the incremental path (no retrain, existing rows
    * untouched). Callers own id uniqueness across appends; duplicate
    * ids would surface as duplicate candidates at query time. The id
    * census (when present) advances with the batch; this plain path
    * carries no replay protocol, so a crash between the two appends
    * leaves the census to [[graft.sources.IdCensus.ensureFrom]]-style
    * repair (`Maintain annindex rebuildids`) — use [[appendEpoch]]
    * where crash-exactness matters.
    */
  def append(handle: Handle, newRows: DataFrame, idCol: String, vecCol: String): Unit = {
    val spark = newRows.sparkSession
    val Seq(index, census) = tables(spark, handle.root).tables
    graft.sources.StoreTables.appendWith(spark, index) {
      encoded(newRows, idCol, vecCol, handle.ivf, handle.pq)
        .repartition(col("bucket")).sortWithinPartitions("bucket")
        .write.option("maxRecordsPerFile", index.rowsPerFile)
        .mode("append").parquet(handle.indexPath)
    }
    if (graft.sources.IdCensus.exists(spark, handle.root))
      graft.sources.StoreTables.append(spark, census,
        censusRows(newRows, idCol, vecCol, handle.ivf))
  }

  /** Delta-detecting append (the Dedup.newAgainst shape): rows whose id
    * already sits in the stored index are dropped by an anti-join BEFORE
    * encoding, so re-feeding an overlapping snapshot appends each vector
    * exactly once. Membership comes from the id census sidecar
    * ([[graft.sources.IdCensus.known]] — a stats-pruned, IN-pushed read
    * whose cost follows the BATCH, not the index; pre-sidecar stores
    * migrate with one id-column scan on first touch); the delta alone
    * pays encode cost. Returns the number of rows appended.
    */
  def appendNew(handle: Handle, rows: DataFrame, idCol: String, vecCol: String): Long = {
    val spark = rows.sparkSession
    graft.sources.IdCensus.ensureFrom(spark, handle.root, indexIds(spark, handle.root),
      rowsPerFileOf(spark, handle.root))
    val known = graft.sources.IdCensus.known(spark, handle.root, rows, idCol)
      .select(col("id").as(idCol))
    val fresh = rows.join(known, Seq(idCol), "left_anti").persist()
    try {
      val n = fresh.count()
      if (n > 0) append(handle, fresh, idCol, vecCol)
      n
    } finally { fresh.unpersist(); () }
  }

  /** Exactly-once incremental append: [[appendNew]]'s delta-detecting
    * semantics, replay-safe under a caller-supplied epoch tag. The
    * appended files carry DETERMINISTIC per-tag names
    * ([[graft.sources.EpochFiles]]), so a replay of a failed attempt
    * first retires whatever that attempt half-published — restoring
    * the pre-epoch index — and the anti-join then recomputes the SAME
    * delta (drop decisions are a pure function of the restored index).
    * Replaying an already-COMMITTED tag is retire-and-redo: the call
    * re-publishes the identical row set (END-STATE idempotent), it
    * does not short-circuit — skipping committed epochs outright is
    * the commit-marker layer's job (graft.streaming.StreamingAnn);
    * batch callers replaying a savepoint batch get end-state
    * idempotence from the tag alone. Returns rows appended.
    */
  def appendEpoch(handle: Handle, rows: DataFrame, idCol: String, vecCol: String,
                  tag: String): Long = {
    val spark = rows.sparkSession
    // restore the pre-epoch index and census (an interrupted
    // auto-compact completes first — see StoreTables.rollback)
    val store = tables(spark, handle.root)
    graft.sources.StoreTables.rollback(spark, store, tag, redo = true)
    val Seq(index, census) = store.tables
    graft.sources.IdCensus.ensureFrom(spark, handle.root, indexIds(spark, handle.root),
      index.rowsPerFile)
    // membership via the census sidecar: a stats-pruned point-lookup
    // read whose cost follows the BATCH (flat under index growth) —
    // never the full index id column + distinct this path used to pay
    // per micro-batch
    val known = graft.sources.IdCensus.known(spark, handle.root, rows, idCol)
      .select(col("id").as(idCol))
    val fresh = rows.join(known, Seq(idCol), "left_anti").persist()
    try {
      val n = fresh.count()
      if (n > 0) {
        // delta-sized, bucket-range-clustered shards at the pinned
        // granularity
        graft.sources.StoreTables.publish(spark, store, index,
          encoded(fresh, idCol, vecCol, handle.ivf, handle.pq), tag, Some(n))
        // census publishes second, under the SAME tag: a crash between
        // the two publishes is repaired by replaying the tag (the
        // rollback above restores the pre-epoch pair)
        graft.sources.StoreTables.publish(spark, store, census,
          censusRows(fresh, idCol, vecCol, handle.ivf), tag, Some(n))
      }
      // settled — the auto-compact policy may run the MINOR fold
      // (override files only, I/O ∝ override bytes; each subset swap
      // is all-or-nothing per table under foldFiles' roll-forward
      // marker, so a tag loses ALL its names in a table or none); a
      // replay after the fold is a clean no-op because the census
      // still knows every id.
      graft.sources.StoreTables.autoCompact(spark, store)
      n
    } finally { fresh.unpersist(); () }
  }

  /** Defragment an append-heavy index frame: every epoch appends a few
    * small files, and after thousands the probe-join's scan cost is
    * file-open overhead, not data. Crash-safe in-place compaction
    * ([[graft.sources.Compaction]]: write-ahead group markers,
    * verify-then-rename) — row-identical, so search results cannot
    * change. Run between ingest epochs, not under one: compaction
    * renames away the per-tag files an in-flight epoch's replay would
    * need to retire.
    */
  def compact(spark: SparkSession, root: String,
              targetBytes: Long): graft.sources.Compaction.Result = {
    val r = graft.sources.Compaction.compact(spark, s"$root/index", targetBytes)
    spark.catalog.refreshByPath(s"$root/index")
    graft.sources.FileStatsIndex.update(spark, s"$root/index", Seq("bucket"))
    // the census accretes one small file per epoch just like the index
    // — fold it (and rebuild its stats artifact) on the same cadence
    graft.sources.IdCensus.compact(spark, root, rowsPerFileOf(spark, root))
    r
  }

  /** Restore the bucket-clustered layout incremental appends erode:
    * each epoch's files are clustered within themselves, so after many
    * epochs every bucket range appears in every file and the search's
    * row-group skipping degrades toward a full scan. Rewrites the
    * index frame globally range-sharded + sorted on `bucket` under the
    * crash-safe swap discipline ([[graft.streaming.SwapStore]] — a
    * crash leaves the old or new table intact, never neither).
    * Row-identical; same between-epochs caveat as [[compact]].
    */
  /** Operational health census of the index frame: per-bucket row
    * counts. IVF recall and tail latency both degrade when buckets
    * skew (a hot bucket turns every probe that touches it into a
    * near-full scan; empty buckets waste nProbe) — this is the number
    * an operator checks before deciding a retrain is due, alongside
    * recall spot checks. One column-pruned scan + one |kIvf|-row
    * aggregate.
    */
  def bucketStats(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/index")
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_rows"))
      .orderBy(col("bucket"))

  /** Zero-downtime retrain: build a FULL index (fresh models + frame)
    * into the next version of a [[graft.sources.Versioned]] root and
    * swap the `_LATEST` pointer only after the build completes. The
    * retrain discipline the in-place [[build]] cannot offer: live
    * searchers hold handles opened against an IMMUTABLE version
    * directory, so a concurrent retrain can never tear a running
    * search or mix old codes with new codebooks; the old version
    * stays readable (repro/time travel) until `Versioned.vacuum`
    * retires it under the usual retention floor. Centroid/codebook
    * drift under epoch appends is bounded by retraining on this path
    * — append between retrains, republish when recall degrades.
    * Returns (published version, handle on it).
    */
  def buildVersioned(corpus: DataFrame, idCol: String, vecCol: String,
                     versionedRoot: String, kIvf: Int, m: Int = 8, ksub: Int = 16,
                     iters: Int = 3, trainSample: Option[Long] = None): (Long, Handle) = {
    var h: Handle = null
    val v = graft.sources.Versioned.publishWith(corpus.sparkSession, versionedRoot) {
      dir => h = build(corpus, idCol, vecCol, dir, kIvf, m, ksub, iters, trainSample)
    }
    (v, h)
  }

  /** Open the CURRENT published version (pointer resolved once — the
    * handle keeps reading that immutable version even if a retrain
    * publishes mid-query).
    */
  def openLatest(spark: SparkSession, versionedRoot: String): Handle = {
    val n = graft.sources.Versioned.latestVersion(spark, versionedRoot).getOrElse(
      throw new IllegalArgumentException(s"no published index under $versionedRoot"))
    openVersion(spark, versionedRoot, n)
  }

  /** Time travel: open a specific published version — "which index
    * served last Tuesday's retrieval run" is answerable for as long
    * as the vacuum policy keeps the version.
    */
  def openVersion(spark: SparkSession, versionedRoot: String, n: Long): Handle =
    open(spark, graft.sources.Versioned.versionPath(versionedRoot, n))

  /** Right-to-be-forgotten for the vector store: remove `ids` from the
    * index frame through the crash-safe targeted rewrite
    * ([[graft.sources.TargetedDelete]] — only files actually holding a
    * forgotten id are rewritten, verify-all-before-any-swap; key sets
    * past the inline cap route to the anti-join path). The frame is
    * bucket-clustered, so a plain id-delete cannot prune — the census
    * carries each indexed id's BUCKET precisely so this call can
    * derive the doomed (bucket, id) pairs from a stats-pruned census
    * point read and run a cluster-key-pruned pair-delete
    * ([[graft.sources.TargetedDelete.deletePairs]]): RTBF cost follows
    * the batch's rows, not the index. A forgotten
    * vector can never be returned by [[search]] (results ARE rows of
    * the index frame), and [[appendNew]]/[[appendEpoch]] re-admit the
    * id if it legitimately reappears — the delta anti-join no longer
    * sees it. The models are untouched: centroids and codebooks are
    * trained AGGREGATES carrying no per-row data, so forgetting is a
    * frame rewrite, never a retrain. Same between-epochs caveat as
    * [[compact]]: the rewrite renames files, destroying the per-tag
    * names an in-flight epoch's replay would need to retire.
    */
  def forget(spark: SparkSession, root: String,
             ids: Seq[Any]): graft.sources.TargetedDelete.Result = {
    // the frame clusters by BUCKET, so a plain id-delete scans — but
    // the census knows every indexed id's bucket: derive the doomed
    // (bucket, neighbor_id) pairs from a stats-pruned census point
    // read and pair-delete with files pruned by the cluster key (RTBF
    // cost follows the batch). Pairs derive BEFORE any mutation, so a
    // crash anywhere is repaired by re-invoking (already-deleted pairs
    // no-op). The census is trusted the same way the delta anti-join
    // trusts it — out-of-protocol surgery repairs via `rebuildids`.
    // The census reads under mergeSchema (the LexIndex.forget
    // discipline): a pre-bucket census that later received
    // bucket-bearing epoch rows is a MIXED directory — per-ROW split,
    // ids whose row carries a bucket pair-delete, null-bucket rows
    // route to the id scan instead of tripping the pair-delete's
    // null require. Bucket-less censuses and oversized batches take
    // the scan for everything.
    val Seq(index, census) = tables(spark, root).tables
    val cen =
      if (graft.sources.IdCensus.exists(spark, root))
        Some(graft.sources.KeyedReads.prunedRead(spark, census.dir, "id", ids.toArray,
          mergeSchema = true)).filter(_.columns.contains("bucket"))
      else None
    val r = graft.sources.StoreTables.forget(spark, index, "neighbor_id", ids,
      pairs = cen.map(_.filter(col("bucket").isNotNull)
        .select(col("bucket"), col("id").as("neighbor_id")).distinct()),
      bare = cen.map(_.filter(col("bucket").isNull).select(col("id")).distinct()))
    // census forgets SECOND (the pair derivation needed it) —
    // re-admission on legitimate reappearance is the delta check no
    // longer seeing the id, and the delta check IS the census
    if (graft.sources.IdCensus.exists(spark, root))
      graft.sources.IdCensus.forget(spark, root, ids)
    r
  }

  /** Re-derive the id census from the index frame's ground truth —
    * the repair arm for out-of-protocol surgery (a crash between a
    * plain append's two writes, manual file moves). One column-pruned
    * scan; never needed on the epoch path, whose tag replay repairs
    * itself.
    */
  def rebuildIds(spark: SparkSession, root: String): Unit =
    graft.sources.IdCensus.create(spark, root, indexIds(spark, root),
      rowsPerFileOf(spark, root))

  /** MAJOR fold: restore global bucket clustering (and the census's id
    * clustering) after ingest epochs — see [[graft.sources.StoreTables]].
    */
  def recluster(spark: SparkSession, root: String): Unit =
    graft.sources.StoreTables.recluster(spark, tables(spark, root))

  private def encoded(rows: DataFrame, idCol: String, vecCol: String,
                      ivf: Ivf.Model, pq: Pq.Model): DataFrame =
    rows.select(col(idCol).as("neighbor_id"),
      Ivf.assignment(col(vecCol), ivf).as("bucket"),
      Pq.encode(col(vecCol), pq).as("codes"))

  /** IVF-PQ top-k over the persisted index frame: probe nProbe coarse
    * buckets, ADC-rank the PQ codes inside them (Pq.ivfAdcTopK).
    * Output: (query_id, rank, neighbor_id, adc_dist).
    */
  def search(handle: Handle, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, nProbe: Int): DataFrame = {
    // the frame persists ids under the fixed name "neighbor_id";
    // ivfAdcTopK resolves both sides by the caller's idCol
    val spark = queries.sparkSession
    val idx = spark.read
      .schema(graft.sources.KeyedReads.schemaFor(spark, handle.indexPath))
      .parquet(handle.indexPath)
      .withColumnRenamed("neighbor_id", idCol)
    Pq.ivfAdcTopK(queries, idx, idCol, vecCol, "codes", "bucket",
      handle.ivf, handle.pq, k, nProbe)
  }

  /** [[search]] through the stats-pruned point-read path: a bounded
    * query batch's probed buckets are collected (≤ `cap` distinct
    * bucket ids — |queries|×nProbe bounds them by construction) and
    * the codes table is read through
    * [[graft.sources.KeyedReads.prunedRead]] — file- and
    * row-group-pruned on the bucket cluster key — before ADC ranking.
    * Search I/O then follows the PROBED buckets' rows, each file
    * bounded by the granularity policy ([[rowsPerFileOf]]), never the
    * whole code table the full-scan broadcast join of [[search]] pays:
    * that is the serve shape an interactive batch wants at 100 TB,
    * where even the codes frame is TBs. Results are identical to
    * [[search]] (AnnIndexSpec pins it; the scored set per query is
    * exactly the probed buckets' rows either way); batches whose
    * probed-bucket count exceeds `cap` fall back to [[search]] — at
    * that fan-out most of the table is probed anyway and the scan
    * amortizes.
    */
  def searchPruned(handle: Handle, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, nProbe: Int,
                   cap: Int = 4096): DataFrame = {
    val spark = queries.sparkSession
    val probes = Ivf.probeBuckets(queries, idCol, vecCol, handle.ivf, nProbe)
    graft.sources.KeyedReads.collectKeys(probes, "bucket", cap) match {
      case Some(buckets) =>
        val idx = graft.sources.KeyedReads
          .prunedRead(spark, handle.indexPath, "bucket", buckets)
          .withColumnRenamed("neighbor_id", idCol)
        Pq.ivfAdcTopK(queries, idx, idCol, vecCol, "codes", "bucket",
          handle.ivf, handle.pq, k, nProbe)
      case None => search(handle, queries, idCol, vecCol, k, nProbe)
    }
  }

  /** Two-stage search over the persisted index — IVF-PQ candidate
    * generation then exact re-rank ([[Pq.rerankExact]]): the index
    * frame (codes only, no vectors) over-fetches `kCand` candidates
    * per query, and their TRUE vectors are fetched from `corpus` (the
    * caller's vector table — the index deliberately doesn't store
    * vectors) and ranked by exact squared L2. This is the recall
    * repair every production PQ deployment runs: quantization error
    * decides only WHICH kCand make the candidate list, never their
    * final order. Cost: the code-scan search at kCand, plus one
    * broadcast-pruned fetch of |queries|·kCand true vectors — the
    * corpus is scanned (column-pruned), never shuffled. Output
    * (query_id, rank, neighbor_id, exact_dist).
    */
  def searchRerank(handle: Handle, queries: DataFrame, corpus: DataFrame,
                   idCol: String, vecCol: String, k: Int, nProbe: Int,
                   kCand: Int): DataFrame = {
    // Candidate ADMISSION is the probed buckets' rows; the ADC ranking
    // window only CAPS that set at kCand per query. Materialize the
    // un-ranked scored frame once and size it in one aggregation: when
    // no query admits more than kCand rows the window is a no-op by
    // construction — skip its shuffle+sort and hand the pairs straight
    // to the exact stage (identical candidate set, and the exact stage
    // alone decides the final order either way). Only an over-admitted
    // batch pays the ranking pass, and the size numbers feed the exact
    // stage's broadcast verdicts so nothing is counted twice.
    val spark = queries.sparkSession
    val idx = spark.read
      .schema(graft.sources.KeyedReads.schemaFor(spark, handle.indexPath))
      .parquet(handle.indexPath)
      .withColumnRenamed("neighbor_id", idCol)
    val scored = graft.Checkpoints.materialize(
      Pq.ivfAdcScored(queries, idx, idCol, vecCol, "codes", "bucket",
        handle.ivf, handle.pq, nProbe))
    val sized = scored.groupBy(col("query_id"))
      .agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c")).as("n"), count(lit(1)).as("nq"),
        max(col("__c")).as("maxPer")).head()
    val (n, nq) = (Option(sized.get(0)).fold(0L)(_ => sized.getLong(0)),
      sized.getLong(1))
    val corpusVecs = corpus.select(col(idCol), col(vecCol))
    // vector width is a model constant (dim = m·dsub) — no probe job
    val width = Some((handle.pq.m * handle.pq.dsub).toLong)
    if (sized.isNullAt(2) || sized.getLong(2) <= kCand.toLong)
      Pq.rerankExactSized(scored.select(col("query_id"), col("neighbor_id")),
        n, nq, queries, corpusVecs, idCol, vecCol, k, maxBroadcastRows = 4000000L,
        knownVecWidth = width)
    else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
        .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
      val capped = graft.Checkpoints.materialize(
        scored.withColumn("__rank", row_number().over(w))
          .filter(col("__rank") <= kCand)
          .select(col("query_id"), col("neighbor_id")))
      // per-query cap changes the totals: nq is unchanged (a capped
      // query keeps ≥ k rows), n shrinks to Σ min(admitted, kCand)
      val n2 = capped.agg(count(lit(1))).head().getLong(0)
      Pq.rerankExactSized(capped, n2, nq, queries, corpusVecs,
        idCol, vecCol, k, maxBroadcastRows = 4000000L, knownVecWidth = width)
    }
  }

  /** Operational recall tuner — the measured recall-vs-cost table a
    * production ANN deployment sets `nProbe` from, instead of guessing
    * a static knob. For each candidate nProbe: run [[search]] on a
    * BOUNDED query sample, score recall@k against the EXACT squared-L2
    * top-k over `corpus` (computed once for the whole sweep — one
    * column-pruned corpus scan with the sample broadcast, the
    * brute-force anchor every ANN eval uses), and price the setting by
    * the candidate rows its probes admit (probed buckets' row counts
    * from [[bucketStats]] — the code-scan volume that IS the search's
    * cost driver at any corpus size). Output, one row per nProbe:
    * `(n_probe, recall, n_queries, cand_rows)`, recall =
    * total-hits / (|queries|·k) — integer counts, ONE division, so the
    * table replays exactly. Recall is weakly increasing in nProbe
    * (more buckets admit a candidate superset under the same ADC
    * ranking); the operator picks the knee. Maintenance-rate cost:
    * |nProbes| code-scan searches + one exact pass, all bounded by the
    * sample.
    */
  def tuneNProbe(handle: Handle, queries: DataFrame, corpus: DataFrame,
                 idCol: String, vecCol: String, k: Int,
                 nProbes: Seq[Int]): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nProbes.nonEmpty, "need at least one candidate nProbe")
    require(nProbes.forall(_ >= 1), "nProbe candidates must be >= 1")
    val spark = queries.sparkSession
    val q = graft.Checkpoints.materialize(
      queries.select(col(idCol), col(vecCol)))
    val nq = q.count()
    require(nq > 0, "empty query sample — nothing to tune on")
    val qv = q.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val sqDist = aggregate(
      zip_with(col("__qv"), col("__cv"),
        (x, y) => (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("__d").asc, col("neighbor_id").asc)
    val truth = graft.Checkpoints.materialize(
      cv.crossJoin(broadcast(qv))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), sqDist.as("__d"))
        .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("__rn") <= k)
        .select(col("query_id"), col("neighbor_id")))
    // |kIvf|-row bucket census once; probe pairs are |sample|×nProbe
    val sizes = bucketStats(spark, handle.root).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = nProbes.distinct.sorted.map { np =>
      val hits = search(handle, q, idCol, vecCol, k, np)
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi").count()
      val candRows = Ivf.probeBuckets(q, idCol, vecCol, handle.ivf, np)
        .select(col("bucket")).collect()
        .map(r => sizes.getOrElse(r.getInt(0), 0L)).sum
      (np, hits.toDouble / (nq * k).toDouble, nq, candRows)
    }
    import spark.implicits._
    rows.toDF("n_probe", "recall", "n_queries", "cand_rows")
  }

  /** Attribute-filtered search — the vector-db "filtered ANN" shape: a
    * metadata predicate (language, license, time range) narrows the
    * NEIGHBOR universe to the ids in `allowed`, and the top-k must be
    * ranked among the SURVIVORS. Post-filtering an unrestricted top-k
    * is the wrong program: it under-fills k whenever fewer than k of
    * the global nearest pass the predicate (spec'd). The restriction
    * is a left-semi join on the index frame's id BEFORE bucket
    * ranking, so a selective predicate only shrinks the scan — and
    * the result is row-identical to searching an index whose frame
    * held only the allowed rows (same models), which is what pins it
    * at the gate. `allowed` carries the ids in `allowedIdCol`;
    * selective sets broadcast, large ones shuffle — either is correct.
    */
  def searchWhere(handle: Handle, queries: DataFrame, idCol: String, vecCol: String,
                  k: Int, nProbe: Int,
                  allowed: DataFrame, allowedIdCol: String): DataFrame = {
    val idx = queries.sparkSession.read
      .schema(graft.sources.KeyedReads.schemaFor(queries.sparkSession, handle.indexPath))
      .parquet(handle.indexPath)
      .join(allowed.select(col(allowedIdCol).as("neighbor_id")),
        Seq("neighbor_id"), "left_semi")
      .withColumnRenamed("neighbor_id", idCol)
    Pq.ivfAdcTopK(queries, idx, idCol, vecCol, "codes", "bucket",
      handle.ivf, handle.pq, k, nProbe)
  }
}
