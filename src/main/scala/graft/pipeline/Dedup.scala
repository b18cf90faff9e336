package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Four tiers, cheapest first:
  *  1. exact        — sha256 content key, one groupBy (one shuffle of
  *                    (digest, id), never the payload)
  *  2. MinHash+LSH  — per-row signatures computed expression-side (no
  *                    explode, no shuffle), banded bucket join for
  *                    candidates, exact Jaccard verification on the
  *                    candidate set only
  *  3. SimHash      — 64-bit signature per row, chunk-banded join,
  *                    hamming verification via bit_count(xor)
  *  4. exact n-gram Jaccard — O(n²) verification join; only for small
  *                    inputs or post-LSH candidate sets
  *
  * Scale design: tiers 2-3 are the 100 TB path. Signatures are fixed
  * width (64 longs / 1 long), so the candidate-generation shuffle carries
  * ~0.5 KB/row regardless of document size. Bucket skew (a degenerate
  * shingle that lands everywhere) is clamped by `maxBucketSize` — buckets
  * larger than the cap are dropped from candidate generation (logged via
  * count), which is the standard recall/robustness tradeoff.
  */
object Dedup {

  /** Exact duplicate groups by content digest: representative = min id.
    * Normalization (lower/trim) is the caller's choice via `key`.
    */
  def exactGroups(df: DataFrame, key: Column, idCol: String): DataFrame =
    df.groupBy(sha2(key, 256).as("content_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Cross-snapshot incremental dedup — "what is genuinely new since
    * the last shard": drop every document whose content digest already
    * appears in `reference` (the prior crawl / the already-trained
    * corpus), then exact-dedup the survivors within the batch
    * (min-id representative). The standard front gate of an
    * append-only training pipeline: each new shard trains only on text
    * neither seen in production nor repeated inside the shard.
    *
    * Scale: the reference NEVER ships documents — it reduces to
    * distinct digests (fixed 64-char keys) before the anti-join, and
    * the in-batch keeper pass shuffles (digest, id) pairs only;
    * Catalyst broadcasts the digest set while it fits and shuffles
    * both sides on the digest key once it doesn't — either plan is
    * payload-free. Output preserves the input schema exactly.
    */
  def newAgainst(df: DataFrame, textCol: String, idCol: String,
                 reference: DataFrame, refTextCol: String): DataFrame = {
    val digest = sha2(col(textCol), 256)
    val refDigests = reference
      .select(sha2(col(refTextCol), 256).as("__digest")).distinct()
    val fresh = df.withColumn("__digest", digest)
      .join(refDigests, Seq("__digest"), "left_anti")
    val keepers = fresh.groupBy(col("__digest"))
      .agg(min(col(idCol)).as(idCol))
    fresh.join(keepers, Seq("__digest", idCol), "left_semi").drop("__digest")
  }

  /** Distinct word-n-gram shingles as an array column (n=1 => distinct
    * tokens). Pure expressions; no shuffle.
    */
  def shingles(textColName: String, n: Int): Column = {
    val toks = s"filter(split(trim($textColName), '\\\\s+'), t -> t != '')"
    if (n == 1) expr(s"array_distinct($toks)")
    // bind the token array once (single-element-array trick): inlining
    // $toks in the per-gram lambda would re-split the text per position
    else expr(
      s"array_distinct(flatten(transform(array($toks), ts -> " +
        s"transform(sequence(1, greatest(size(ts) - ${n - 1}, 1))," +
        s" i -> concat_ws(' ', slice(ts, i, $n))))))")
  }

  /** Column-argument form of [[shingles]] for the SQL-function surface
    * (the string form splices a column NAME into parsed SQL; this builds
    * the same tree from any input expression). Value-equal by spec.
    */
  def shinglesOf(text: Column, n: Int): Column = {
    require(n > 0, s"shingle size must be positive, got $n")
    val toks = filter(split(trim(text), "\\s+"), t => t =!= lit(""))
    if (n == 1) array_distinct(toks)
    else array_distinct(flatten(transform(array(toks), ts =>
      transform(sequence(lit(1), greatest(size(ts) - lit(n - 1), lit(1))),
        i => concat_ws(" ", slice(ts, i, lit(n)))))))
  }

  /** Column-argument form of [[simHashExpr]] (same 64-bit xxhash64
    * SimHash, built from an arbitrary expression). Value-equal by spec.
    */
  def simHashOf(text: Column): Column = {
    val toks = filter(split(trim(text), "\\s+"), t => t =!= lit(""))
    val votes = aggregate(toks, array_repeat(lit(0L), 64), (acc, t) =>
      zip_with(acc,
        transform(sequence(lit(0), lit(63)), i =>
          when(call_function("shiftright", xxhash64(t), i)
            .bitwiseAND(lit(1L)) === lit(1L), lit(1L)).otherwise(lit(-1L))),
        (x, y) => x + y))
    // bind the vote array once — same single-element-array trick as the
    // string form
    aggregate(
      flatten(transform(array(votes), a =>
        transform(sequence(lit(0), lit(63)), i =>
          when(element_at(a, i + lit(1)) > 0,
            call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))))),
      lit(0L), (x, y) => x.bitwiseOR(y))
  }

  /** MinHash signature (H hashes) computed per-row from the shingle
    * array: h_j(x) = (a_j·(x mod p) + b_j) mod p with p = 2^31 − 1
    * (classic universal hashing; all intermediates stay well inside
    * Long range, so it is ANSI-overflow-safe). Coefficients come from a
    * fixed-seed PRNG so signatures are deterministic across runs.
    *
    * Shingle hashing stays a Spark-builtin `transform` (one pass); the
    * H minima come from the fused `graft.functions.MinHashMins` kernel —
    * one codegen'd pass with primitive accumulators instead of H
    * `array_min(transform(…))` walks and H array allocations per row.
    * Bit-identical to [[minHashSignatureHof]] (spec-cross-checked).
    */
  def minHashSignature(shingleCol: Column, numHashes: Int = 64, seed: Long = 42L): Column = {
    val p = 2147483647L // 2^31 - 1 (prime)
    val (as, bs) = minHashCoefficients(numHashes, seed, p)
    val base = transform(shingleCol, s => pmod(xxhash64(s), lit(p)))
    graft.functions.MinHash.mins(base, as, bs, p)
  }

  /** Higher-order-function reference form of [[minHashSignature]] —
    * kept as the portable cross-check the spec compares the native
    * kernel against.
    */
  def minHashSignatureHof(shingleCol: Column, numHashes: Int = 64, seed: Long = 42L): Column = {
    val p = 2147483647L
    val (as, bs) = minHashCoefficients(numHashes, seed, p)
    val aCol = typedLit(as.toSeq)
    val bCol = typedLit(bs.toSeq)
    val base = transform(shingleCol, s => pmod(xxhash64(s), lit(p)))
    // bind the hashed-shingle array once: inlining `base` in the per-j
    // lambda would recompute xxhash64 of every shingle numHashes times
    // per row (64× the hash work)
    flatten(transform(array(base), bs0 =>
      transform(sequence(lit(0), lit(numHashes - 1)), j =>
        array_min(transform(bs0, x =>
          pmod(element_at(aCol, j + 1) * x + element_at(bCol, j + 1), lit(p)))))))
  }

  /** Exposed for oracle construction: the exact (a_j, b_j) coefficient
    * streams the signature kernels use.
    */
  private[graft] def minHashCoefficients(numHashes: Int, seed: Long,
                                         p: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val as = Array.fill(numHashes)(1L + rnd.nextInt((p - 1).toInt))
    val bs = Array.fill(numHashes)(rnd.nextInt(p.toInt).toLong)
    (as, bs)
  }

  /** Engine-portable MinHash signature: base hash = first 15 md5 hex
    * chars as a 60-bit integer (the same digit-positional recipe as
    * [[simHashPortableExpr]]/fingerprints) mod p, minima via the fused
    * kernel. Slower than the xxhash64 form (md5 per shingle) but
    * REPLICABLE in any engine with md5 — which makes LSH structures
    * built from it cross-engine-verifiable end to end.
    */
  def minHashSignaturePortable(shingleCol: Column, numHashes: Int = 16,
                               seed: Long = 42L): Column = {
    val p = 2147483647L
    val (as, bs) = minHashCoefficients(numHashes, seed, p)
    val base = transform(shingleCol, s => pmod(graft.functions.md5Prefix60(s), lit(p)))
    graft.functions.MinHash.mins(base, as, bs, p)
  }

  /** Star edges by literal band-slice equality: ids sharing a band's
    * signature slice connect to the smallest id in that group — the
    * O(n)-edge alternative to all-pairs candidate generation
    * ([[lshStarEdges]]), with the bucket defined by the slice VALUES
    * rather than a hash of them: no collision risk, and semantics an
    * independent engine can replicate exactly (the oracle groups on the
    * same slices). Shuffle carries (id, band, rowsPerBand longs) per
    * row-band — fixed width, document-size-independent.
    */
  def starEdgesBySlice(signed: DataFrame, idCol: String, sigCol: String,
                       bands: Int, rowsPerBand: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val banded = signed
      .select(col(idCol).as("id"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"), col(sigCol).as("sig"))
      .select(col("id"), col("band"),
        slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand)).as("bkey"))
    // bucket-min via a partitioned window, not agg+self-join: one shuffle
    // on (band, bkey), the banding explode runs exactly once, and the
    // result stays a lazy plan (no checkpoint needed — nothing reads the
    // banded frame twice)
    banded
      .withColumn("id_a", min(col("id")).over(Window.partitionBy("band", "bkey")))
      .filter(col("id") =!= col("id_a"))
      .select(col("id_a"), col("id").as("id_b"))
      .distinct()
  }

  /** Candidate pairs via banded LSH over a MinHash signature column.
    * Returns (id_a, id_b) with id_a < id_b, distinct.
    *
    * bands×rowsPerBand must equal the signature length. Each row emits
    * `bands` (band, bucket) keys; ids sharing a bucket in any band become
    * candidates. The bucket join shuffles only (band, bucket, id).
    */
  /** (id, band, bucket) frame shared by every LSH candidate generator:
    * band b's bucket is the hash of signature rows [b·r, (b+1)·r).
    */
  // private[graft]: streaming/StreamingDedup keys its bucket state with
  // THIS banding so online and batch tiers agree on what collides
  private[graft] def bandedFrame(df: DataFrame, idCol: String, signatureCol: String,
                                 bands: Int, rowsPerBand: Int): DataFrame = {
    val bandHashes = (0 until bands).map { b =>
      xxhash64(concat_ws(",",
        slice(col(signatureCol), b * rowsPerBand + 1, rowsPerBand).cast("array<string>")))
    }
    df.select(col(idCol).as("id"),
      posexplode(array(bandHashes: _*)).as(Seq("band", "bucket")))
  }

  /** Banded frame with degenerate buckets clamped (skew guard): buckets
    * larger than `maxBucketSize` are dropped from candidate generation.
    *
    * The bucket-size clamp is a COUNT over a (band, bucket)-partitioned
    * window — one shuffle, no agg+join — so the banding Generate runs
    * exactly once, inside the single job that materializes the result.
    *
    * The kept frame is materialized (ONE checkpoint — an eager job)
    * because both sides of the downstream candidate self-join read it;
    * without the checkpoint the banding+window pipeline runs once per
    * join side and the recompute, not the join, dominates the hot dedup
    * path. The materialized rows are fixed width (id + two longs per
    * band), so the checkpoint is ≤ bands×|df| small rows regardless of
    * document size. The blocks live until the session ends (or the
    * caller releases them via GraftColumnBridge.unpersistLocalCheckpoint
    * on the returned candidate frame's inputs). Checkpoint mode follows
    * the session policy ([[graft.Checkpoints]]): executor-local by
    * default (an executor loss fails the job — acceptable for a bounded
    * pass), or reliable `checkpoint(dir)` when
    * `spark.graft.checkpoint.dir` is set, which a multi-hour 100-TB run
    * must do so a preempted executor costs a re-read, not the job.
    */
  private def keptFrame(df: DataFrame, idCol: String, signatureCol: String,
                        bands: Int, rowsPerBand: Int, maxBucketSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bandedFrame(df, idCol, signatureCol, bands, rowsPerBand)
      .withColumn("__bucket_n",
        count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .filter(col("__bucket_n") <= maxBucketSize)
      .drop("__bucket_n")
      .transform(graft.Checkpoints.materialize)
  }

  /** NOTE: eager — candidate generation materializes the banded frame
    * (one Spark job) at call time; see [[keptFrame]].
    */
  def lshCandidates(df: DataFrame, idCol: String, signatureCol: String,
                    bands: Int, rowsPerBand: Int,
                    maxBucketSize: Int = 10000): DataFrame = {
    val kept = keptFrame(df, idCol, signatureCol, bands, rowsPerBand, maxBucketSize)
    kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Candidate pairs with their band-agreement count — the dedup that
    * `lshCandidates` does with `distinct()`, done as an aggregation so
    * the count comes free. A pair at Jaccard J matches each r-row band
    * with probability J^r, so `matching_bands` is itself a coarse
    * similarity estimate: filtering on it BEFORE touching signatures or
    * shingle sets cuts the candidate set at zero extra passes. (E.g.
    * bands=16, r=4: a J=0.9 pair matches ~10.5 bands in expectation, a
    * J=0.6 pair ~2.1 — minBands=6 separates them cleanly.)
    *
    * NOTE: eager — materializes the banded frame at call time, see
    * [[keptFrame]].
    */
  def lshCandidatesWeighted(df: DataFrame, idCol: String, signatureCol: String,
                            bands: Int, rowsPerBand: Int,
                            maxBucketSize: Int = 10000): DataFrame = {
    val kept = keptFrame(df, idCol, signatureCol, bands, rowsPerBand, maxBucketSize)
    kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("matching_bands"))
  }

  /** Star edges per LSH bucket: (bucket_min_id, member_id) instead of
    * all member pairs. For *clustering* (connected components), star
    * edges preserve bucket connectivity with O(|bucket|) edges instead
    * of O(|bucket|²) pairs — the difference between linear and quadratic
    * candidate volume on near-duplicate-saturated corpora. Pair-level
    * *detection* still needs `lshCandidates`; this is the clustering
    * tier.
    */
  def lshStarEdges(df: DataFrame, idCol: String, signatureCol: String,
                   bands: Int, rowsPerBand: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bucket-min via a partitioned window, not agg+self-join: the banding
    // Generate runs exactly once and the result is a lazy plan again (no
    // materialization at call time)
    bandedFrame(df, idCol, signatureCol, bands, rowsPerBand)
      .withColumn("id_a", min(col("id")).over(Window.partitionBy("band", "bucket")))
      .filter(col("id") =!= col("id_a"))
      .select(col("id_a"), col("id").as("id_b"))
      .distinct()
  }

  /** Persisted LSH band index + incremental probe — the crawl-snapshot
    * dedup shape at 100 TB: the corpus is banded ONCE and saved as a
    * fixed-width (id, band, bucket) parquet index; each new snapshot
    * batch bands ONLY ITSELF and equi-joins the index, so incremental
    * near-dup detection never re-reads, re-hashes, or re-shuffles
    * corpus text or signatures — the per-batch cost is proportional to
    * the BATCH, plus one keyed join against index rows. The banding
    * layout rides a `_banding.json` sidecar so a probe can never
    * silently use a different (bands, rowsPerBand) than the index was
    * built with; [[BandIndex.append]] admits a batch's rows so the next
    * probe sees it. Hot buckets are capped at write AND within each
    * probe batch (the keptFrame maxBucketSize skew guard on both
    * sides); the signature column must carry bands×rowsPerBand hashes —
    * recorded in the sidecar as `numHashes` for the caller to check.
    */
  /** Driver-side key-set collect with a hard cap: `Some(keys)` when the
    * distinct key count fits, `None` past the cap (callers fall back to
    * an unpruned scan). The limit bounds the collect itself — the cap
    * is the driver-memory contract, not a hope.
    */
  private def collectKeys(df: DataFrame, keyCol: String, cap: Int): Option[Array[Any]] =
    graft.sources.KeyedReads.collectKeys(df, keyCol, cap)

  /** Read a key-clustered store table pruned to `keys` — the shared
    * two-layer primitive ([[graft.sources.KeyedReads.prunedRead]]):
    * a `_stats` artifact (when the table carries one) prunes the FILE
    * list at planning time so only candidate-touched files are even
    * opened, then the keys are pushed as sorted-chunk IN predicates
    * for row-group skipping. The tables are written range-sharded and
    * sorted on `keyCol` (each file/row group covers a narrow key
    * range), so I/O grows with the KEY SET (≈ the probe batch's
    * candidates), not the corpus.
    */
  private def prunedRead(spark: org.apache.spark.sql.SparkSession, path: String,
                         keyCol: String, keys: Array[Any],
                         materialize: Boolean = true): DataFrame =
    graft.sources.KeyedReads.prunedRead(spark, path, keyCol, keys,
      materialize = materialize)

  /** Total bytes under a table directory — the cheap FS metadata call
    * behind the `minPruneBytes` floor: pruning a table that fits in a
    * handful of row groups costs more in collect/scan-branch overhead
    * than the full scan it avoids.
    */
  private def dirBytes(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  object BandIndex {
    private def rowsPath(path: String) = new org.apache.hadoop.fs.Path(path, "rows")
    private def metaPath(path: String) = new org.apache.hadoop.fs.Path(path, "_banding.json")

    private[pipeline] def capped(df: DataFrame, idCol: String, signatureCol: String,
                                 bands: Int, rowsPerBand: Int, maxBucketSize: Int): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      bandedFrame(df, idCol, signatureCol, bands, rowsPerBand)
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("band", "bucket")))
        .filter(col("__n") <= maxBucketSize).drop("__n")
    }

    def write(df: DataFrame, idCol: String, signatureCol: String,
              bands: Int, rowsPerBand: Int, path: String,
              maxBucketSize: Int = 10000,
              rowsPerFile: Long = 4000000L): Unit = {
      require(bands >= 1 && rowsPerBand >= 1, "need bands >= 1 and rowsPerBand >= 1")
      require(rowsPerFile >= 1L, "rowsPerFile must be >= 1")
      // bucket-clustered so probe's pushed bucket-IN skips row groups;
      // the _stats artifact lets prunedRead drop whole FILES at
      // planning time (zero footer reads for files no probe bucket
      // touches) — the same two-layer discipline as IdCensus. The
      // rowsPerFile FILE-GRANULARITY policy (recorded in the sidecar,
      // honored by every later write) is what keeps probe bytes flat
      // under corpus growth: sharding by session shuffle width alone
      // means the file covering a probe's bucket range grows with the
      // CORPUS and every point read sweeps the growth in.
      graft.sources.StoreTables.create(df.sparkSession, table(path, rowsPerFile),
        capped(df, idCol, signatureCol, bands, rowsPerBand, maxBucketSize), "errorifexists")
      graft.sources.StoreTables.writeSmall(df.sparkSession, metaPath(path).toString,
        s"""{"bands":$bands,"rowsPerBand":$rowsPerBand,"numHashes":${bands * rowsPerBand},"rowsPerFile":$rowsPerFile}""")
    }

    /** The index rows as a store table: bucket-clustered at granularity
      * `g`, with a `_stats` artifact.
      */
    private[pipeline] def table(path: String, g: Long): graft.sources.StoreTables.Table =
      graft.sources.StoreTables.Table(rowsPath(path).toString, "bucket",
        rowsPerFile = g, shardRows = g)

    /** (bands, rowsPerBand) the index was built with. */
    def layout(spark: org.apache.spark.sql.SparkSession, path: String): (Int, Int) = {
      val fs = metaPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.exists(metaPath(path)), s"no _banding.json under $path — not a band index")
      val in = fs.open(metaPath(path))
      val body = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      (node.get("bands").asInt(), node.get("rowsPerBand").asInt())
    }

    /** The index's file-granularity policy (rows per file) — default
      * for pre-policy sidecars, whose files were written before the
      * knob existed.
      */
    private[pipeline] def rowsPerFileOf(spark: org.apache.spark.sql.SparkSession,
                                        path: String): Long =
      graft.sources.StoreTables.rowsPerFileOf(spark, metaPath(path).toString)

    /** Band a new batch with the INDEX's layout and append its rows. */
    def append(df: DataFrame, idCol: String, signatureCol: String, path: String,
               maxBucketSize: Int = 10000): Unit = {
      val (bands, rowsPerBand) = layout(df.sparkSession, path)
      // the rows dir changes under this session's never-expiring
      // file-status cache (see SwapStore) — the append refreshes and
      // advances the stats artifact over EXACTLY the appended files
      // (one small job, the write-pass discipline)
      graft.sources.StoreTables.append(df.sparkSession,
        table(path, rowsPerFileOf(df.sparkSession, path)),
        capped(df, idCol, signatureCol, bands, rowsPerBand, maxBucketSize))
    }

    /** Candidate pairs of the NEW batch against the indexed corpus:
      * (id_corpus, id_new, matching_bands), `matching_bands >= minBands`.
      * Feed through [[estimateJaccard]] + [[verifyJaccard]] exactly like
      * whole-corpus candidates (the collision rule per band is identical,
      * so the recall guarantee carries over unchanged).
      *
      * Scale: the index scan is PRUNED to the batch's buckets — the
      * batch's distinct bucket hashes (≤ |batch|×bands values) are
      * collected and pushed as an IN predicate against the
      * bucket-clustered rows files, so index I/O grows with the batch,
      * not the corpus. Batches whose bucket set exceeds `maxPruneKeys`
      * fall back to the full scan (at that size the batch touches most
      * of the index anyway, and the driver-side set is the cost).
      */
    def probe(df: DataFrame, idCol: String, signatureCol: String, path: String,
              minBands: Int = 1, maxBucketSize: Int = 10000,
              maxPruneKeys: Int = 2000000, minPruneBytes: Long = 0L): DataFrame = {
      val spark = df.sparkSession
      val (bands, rowsPerBand) = layout(spark, path)
      val rows = rowsPath(path).toString
      val prune = dirBytes(spark, rows) >= minPruneBytes
      // materialized when pruning: read twice (bucket collect + join)
      val batch =
        if (prune) graft.Checkpoints.materialize(
          capped(df, idCol, signatureCol, bands, rowsPerBand, maxBucketSize))
        else capped(df, idCol, signatureCol, bands, rowsPerBand, maxBucketSize)
      // whole-dir reads carry the signature-cached schema — a probe
      // rereads the same store table per batch, and a schema-less read
      // pays a footer-inference job each call
      def full() = spark.read
        .schema(graft.sources.KeyedReads.schemaFor(spark, rows)).parquet(rows)
      val ix =
        if (prune) collectKeys(batch, "bucket", maxPruneKeys) match {
          case Some(buckets) => prunedRead(spark, rows, "bucket", buckets)
          case None          => full()
        }
        else full()
      batch
        .join(ix.select(col("id").as("__ix_id"), col("band"), col("bucket")),
          Seq("band", "bucket"))
        .filter(col("__ix_id") =!= col("id"))
        .groupBy(col("__ix_id").as("id_corpus"), col("id").as("id_new"))
        .agg(count(lit(1)).as("matching_bands"))
        .filter(col("matching_bands") >= minBands)
    }
  }

  /** Rolling crawl-snapshot NEAR-dup store — the exact-decision twin of
    * [[newAgainst]] (which matches exact digests only): a directory of
    * three keyed side tables,
    *
    *   `bands/`    — a [[BandIndex]] (fixed-width candidate tier),
    *   `sigs/`     — (id, sig): MinHash signatures for the estimate tier,
    *   `shingles/` — (id, sh): distinct-unigram sets for the EXACT verify,
    *
    * so an incoming batch can be deduplicated against the whole corpus
    * history with per-batch cost ∝ batch — in BOTH shuffle and I/O:
    * candidates come from one keyed probe join against a
    * bucket-pruned index read, and the sigs/shingles tables (written
    * id-clustered) are read pruned to the candidate corpus ids via
    * pushed IN predicates — never scanned whole, never joined against
    * each other. Keeping shingles is what makes the drop decision
    * EXACT (threshold on true Jaccard, banding only bounds recall);
    * they are a compressed derivative of the text (distinct tokens),
    * the price of never re-reading the corpus. Ids must be globally
    * unique across snapshots (crawl ids are).
    */
  object NearDupStore {
    private def sub(path: String, name: String) =
      new org.apache.hadoop.fs.Path(path, name).toString

    /** The store's three tables ([[graft.sources.StoreTables]]), each
      * key-clustered at the store's file granularity with a `_stats`
      * artifact — the file-level half of the probe's two-layer pruning
      * (a probe OPENS only candidate-touched files). Rows are
      * append-only across tags (a survivor advances once), so every
      * table resolves by identity.
      */
    def tables(spark: org.apache.spark.sql.SparkSession,
               path: String): graft.sources.StoreTables.Store =
      layout(path, BandIndex.rowsPerFileOf(spark, sub(path, "bands")))

    /** [[tables]] at granularity `g`. */
    private def layout(path: String, g: Long): graft.sources.StoreTables.Store = {
      def table(dir: String) =
        graft.sources.StoreTables.Table(dir, "id", rowsPerFile = g, shardRows = g)
      graft.sources.StoreTables.Store(path, Seq(
        BandIndex.table(sub(path, "bands"), g), table(sub(path, "sigs")),
        table(sub(path, "shingles"))))
    }

    private def framed(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int): DataFrame =
      df.select(col(idCol).as("id"), shingles(textCol, 1).as("sh"))
        .withColumn("sig", minHashSignature(col("sh"), numHashes))

    def create(df: DataFrame, idCol: String, textCol: String, path: String,
               bands: Int = 16, rowsPerBand: Int = 4,
               maxBucketSize: Int = 10000,
               rowsPerFile: Long = 4000000L): Unit = {
      val f = framed(df, idCol, textCol, bands * rowsPerBand)
        .transform(graft.Checkpoints.materialize)
      val store = layout(path, rowsPerFile)
      def table(name: String, cols: String*): () => Unit = () =>
        graft.sources.StoreTables.create(df.sparkSession, store.table(sub(path, name)),
          f.select(cols.map(col): _*), "errorifexists")
      // three disjoint tables fed by the one materialized frame —
      // build them concurrently.
      // id-clustered: dropNearDups prunes these reads to candidate ids;
      // the file-granularity policy (see BandIndex.write) bounds what a
      // pruned point read can sweep in as the store grows
      graft.Par.run(df.sparkSession)(
        () => BandIndex.write(f, "id", "sig", bands, rowsPerBand,
          sub(path, "bands"), maxBucketSize, rowsPerFile),
        table("sigs", "id", "sig"), table("shingles", "id", "sh"))
      ()
    }

    /** Drop every batch row whose exact unigram Jaccard against some
      * stored document reaches `thresholdNum/thresholdDenom`; survivors
      * keep the input schema. `advance = true` appends the SURVIVORS to
      * all three tables so the next batch dedups against this one too.
      * The cheap-tier gates default to the oracle-proven 0.9-threshold
      * chain (16×4 banding ≥4 bands, ≥46/64 estimate) — loosen them
      * together with the threshold.
      */
    def dropNearDups(df: DataFrame, idCol: String, textCol: String, path: String,
                     thresholdNum: Int = 9, thresholdDenom: Int = 10,
                     minBands: Int = 4, minMatchingHashes: Int = 46,
                     advance: Boolean = false,
                     maxPruneKeys: Int = 2000000,
                     minPruneBytes: Long = 0L): DataFrame = {
      val spark = df.sparkSession
      val (bands, rowsPerBand) = BandIndex.layout(spark, sub(path, "bands"))
      // validate the cheap-tier gates against the store's PERSISTED
      // layout: a store created with fewer hashes than the defaults
      // assume (e.g. 8×4 = 32 < 46) would make the estimate filter
      // unsatisfiable and this curation would silently pass EVERYTHING
      // through — fail fast instead of dropping nothing
      require(minBands <= bands,
        s"minBands=$minBands exceeds the store's $bands bands ($path) — " +
          "the band filter can never pass; rebuild the store or lower minBands")
      require(minMatchingHashes <= bands * rowsPerBand,
        s"minMatchingHashes=$minMatchingHashes exceeds the store's " +
          s"${bands * rowsPerBand} signature hashes ($path) — the estimate " +
          "filter can never pass; rebuild the store or lower minMatchingHashes")
      val f = framed(df, idCol, textCol, bands * rowsPerBand)
        .transform(graft.Checkpoints.materialize)
      // Every pair is (id_a = corpus, id_b = batch): only the id_a side
      // needs STORE lookups — the batch side's sigs/shingles come from
      // the in-flight frame. Each tier therefore collects its surviving
      // corpus ids and prunes the corresponding id-clustered store
      // table to them ([[prunedRead]]'s pushed-IN row-group skipping),
      // so per-batch store I/O grows with the CANDIDATE set, not the
      // corpus. Candidate frames are materialized because each feeds
      // both a driver collect and the next tier's join. Tables below
      // the `minPruneBytes` floor skip the whole apparatus — the
      // collect + scan-branch overhead outruns a small full scan.
      def pruned(table: String, ids: => Option[Array[Any]]): DataFrame = {
        val dir = sub(path, table)
        // whole-dir fallbacks use the signature-cached schema (the
        // probe rereads the same tables per batch; schema-less reads
        // pay an inference job per call)
        def full() = spark.read
          .schema(graft.sources.KeyedReads.schemaFor(spark, dir)).parquet(dir)
        if (dirBytes(spark, dir) < minPruneBytes) full()
        else ids match {
          // lazy: each pruned table feeds exactly one downstream tier's
          // materialization — the point scan folds into that job
          // instead of paying its own
          case Some(ks) => prunedRead(spark, dir, "id", ks, materialize = false)
          case None     => full()
        }
      }
      val cands = graft.Checkpoints.materialize(
        BandIndex.probe(f, "id", "sig", sub(path, "bands"),
            minBands = minBands, maxPruneKeys = maxPruneKeys,
            minPruneBytes = minPruneBytes)
          .select(col("id_corpus").as("id_a"), col("id_new").as("id_b")))
      val sigsBoth = pruned("sigs", collectKeys(cands, "id_a", maxPruneKeys))
        .unionByName(f.select("id", "sig"))
      val estimated = graft.Checkpoints.materialize(
        estimateJaccard(cands, sigsBoth, "id", "sig")
          .filter(col("matching_hashes") >= minMatchingHashes)
          .select("id_a", "id_b"))
      val shBoth = pruned("shingles", collectKeys(estimated, "id_a", maxPruneKeys))
        .unionByName(f.select("id", "sh"))
      val dropIds = verifyJaccard(estimated, shBoth, "id", "sh",
          thresholdNum, thresholdDenom)
        .select(col("id_b").as(idCol)).distinct()
      val out = df.join(dropIds, Seq(idCol), "left_anti")
      if (advance) {
        val kept = f.join(out.select(col(idCol).as("id")), Seq("id"), "left_semi")
          .transform(graft.Checkpoints.materialize)
        // appended files stay id-clustered so later probes' pushed-IN
        // pruning skips them like create()'s originals; each table's
        // stats artifact advances over exactly its appended files
        // (StoreTables.append — one small job per table, not an
        // artifact rewrite per table per advance). The three tables are
        // disjoint dirs fed by the one materialized kept frame — append
        // them concurrently (guide §1: an advance's cost is its job chain)
        val store = tables(spark, path)
        val Seq(_, sigsT, shinglesT) = store.tables
        graft.Par.run(spark)(
          () => BandIndex.append(kept, "id", "sig", sub(path, "bands")),
          () => graft.sources.StoreTables.append(spark, sigsT, kept.select("id", "sig")),
          () => graft.sources.StoreTables.append(spark, shinglesT, kept.select("id", "sh")))
        // settled — the auto-compact policy (graft.sources.AutoCompact)
        // may restore the fully-clustered layout once advances have
        // accumulated enough files. recluster is an all-or-nothing
        // SwapStore fold per table, and THIS path needs no marker:
        // advances carry no tag protocol, and a replayed batch re-drops
        // its rows as near-dups of their stored copies (self-delta), so
        // a crash anywhere just re-runs.
        graft.sources.AutoCompact.maybe(spark, path, store.dirs) {
          graft.sources.StoreTables.recluster(spark, store)
        }
        ()
      }
      out
    }

    /** Defragment an advanced store: every batch `advance` appends a
      * few small files to all three tables, and after thousands of
      * snapshots the probe's scan cost is dominated by file-open
      * overhead, not data. Reuses the crash-safe [[graft.sources
      * .Compaction]] swap (write-ahead group markers, verify-then-
      * rename) on each table dir — results are row-identical, so probe
      * decisions cannot change. Run it between batches, not under a
      * concurrent probe (same caveat as any in-place compaction; a
      * versioned store would publish instead).
      */
    def compact(spark: org.apache.spark.sql.SparkSession, path: String,
                targetBytes: Long): Seq[graft.sources.Compaction.Result] =
      tables(spark, path).tables.map { t =>
        val r = graft.sources.Compaction.compact(spark, t.dir, targetBytes)
        spark.catalog.refreshByPath(t.dir)
        // re-stat the merged files, drop the compacted-away entries
        graft.sources.FileStatsIndex.update(spark, t.dir, Seq(t.key))
        r
      }

    /** MINOR fold of the staged override tier ([[advanceStaged]]'s
      * published epochs — [[graft.sources.StoreTables.foldOverrides]]):
      * I/O ∝ override bytes. Plain (untagged) `advance` appends are
      * already granule-capped and clustered within themselves; they
      * fold at [[recluster]]'s operator cadence, not here.
      */
    def compactOverrides(spark: org.apache.spark.sql.SparkSession,
                         path: String): Unit =
      graft.sources.StoreTables.foldOverrides(spark, tables(spark, path))

    /** Restore the key-clustered layout the pruned probes skip
      * against: thousands of `advance` appends (each clustered only
      * within itself) and in-place compactions (row-preserving but
      * order-mixing) gradually spread every key range across every
      * file, degrading [[prunedRead]]'s row-group skipping back
      * toward full scans ([[graft.sources.StoreTables.recluster]]:
      * crash-safe swap per table, row-identical, so probe decisions
      * cannot change). Run it between batches, like [[compact]].
      */
    def recluster(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
      graft.sources.StoreTables.recluster(spark, tables(spark, path))

    /** Exactly-once advance: append `survivors`' three table deltas
      * under DETERMINISTIC per-tag file names
      * ([[graft.sources.EpochFiles]]), so a caller replaying a failed
      * epoch can [[rollbackAdvance]] the tag and redo it without ever
      * double-appending — the discipline `dropNearDups(advance=true)`'s
      * plain appends cannot offer. The caller picks the tag (a
      * streaming epoch id) and owns the commit marker that decides
      * "done vs redo".
      */
    def advanceStaged(survivors: DataFrame, idCol: String, textCol: String,
                      path: String, tag: String): Unit = {
      val spark = survivors.sparkSession
      val (bands, rowsPerBand) = BandIndex.layout(spark, sub(path, "bands"))
      val kept = framed(survivors, idCol, textCol, bands * rowsPerBand)
        .transform(graft.Checkpoints.materialize)
      val store = tables(spark, path)
      val Seq(bandsT, sigsT, shinglesT) = store.tables
      graft.sources.StoreTables.publish(spark, store, bandsT,
        BandIndex.capped(kept, "id", "sig", bands, rowsPerBand, maxBucketSize = 10000), tag)
      graft.sources.StoreTables.publish(spark, store, sigsT, kept.select("id", "sig"), tag)
      graft.sources.StoreTables.publish(spark, store, shinglesT, kept.select("id", "sh"), tag)
      ()
    }

    /** Remove every live-table file a tag's [[advanceStaged]] attempt
      * published (and its staging leftovers) — the store is back to
      * its pre-epoch content no matter where the attempt died
      * ([[graft.sources.StoreTables.rollback]]).
      */
    def rollbackAdvance(spark: org.apache.spark.sql.SparkSession, path: String,
                        tag: String): Unit =
      graft.sources.StoreTables.rollback(spark, tables(spark, path), tag)

    /** Right-to-be-forgotten across ALL THREE store tables: a
      * forgotten document must stop suppressing future near-dups of
      * itself — its band rows, signature, and shingle set all go, so
      * the store decides exactly as one created without the document
      * (row-identical to that store; ForgetSpec pins it). Each table
      * goes through [[graft.sources.StoreTables.forget]] (only files
      * actually holding a forgotten id are rewritten,
      * verify-all-before-any-swap, key sets past the inline cap route
      * to the scan path). The id-clustered sigs/shingles deletes
      * prune on their stats; the bucket-clustered band index
      * pair-deletes. Same between-epochs caveat as
      * [[compact]]/[[recluster]]: the rewrite renames files,
      * destroying the per-tag names an IN-FLIGHT [[advanceStaged]]
      * replay would need to retire.
      */
    def forget(spark: org.apache.spark.sql.SparkSession, path: String,
               ids: Seq[Any]): Seq[graft.sources.TargetedDelete.Result] = {
      // The bands table clusters by BUCKET, so an id-delete cannot
      // prune — but the still-present sigs know exactly which buckets
      // each doomed id banded into: re-derive (bucket, id) pairs with
      // the store's own banding from a stats-pruned sigs point read
      // and pair-delete with files pruned by the cluster key. The
      // derived set is a SUPERSET of the stored rows (write-time
      // bucket caps drop rows), and deleting an absent pair is a
      // no-op, so the superset is safe. Order is load-bearing for
      // crash resumability: derive + delete bands BEFORE deleting
      // sigs — a re-run after any crash re-derives from whatever sigs
      // remain, and already-deleted bands rows no-op. (The pair path
      // assumes the store's write protocol completed — sigs cover the
      // bands table's ids, which every create/advance write order
      // guarantees; recover half-written stores before forgetting.)
      val Seq(bandsT, sigsT, shinglesT) = tables(spark, path).tables
      // past the inline cap no pairs are derived: the bands take the id scan
      val pairs =
        if (ids.size > graft.sources.TargetedDelete.InlineKeyCap) None
        else {
          val (bands, rowsPerBand) = BandIndex.layout(spark, sub(path, "bands"))
          Some(bandedFrame(
              graft.sources.KeyedReads.prunedRead(spark, sigsT.dir, "id", ids.toArray),
              "id", "sig", bands, rowsPerBand)
            .select(col("bucket"), col("id")).distinct())
        }
      graft.sources.StoreTables.forget(spark, bandsT, "id", ids, pairs) +:
        Seq(sigsT, shinglesT).map(graft.sources.StoreTables.forget(spark, _, "id", ids))
    }
  }

  /** Cheap Jaccard estimate for candidate pairs from the MinHash
    * signatures themselves: fraction of agreeing minhashes (unbiased
    * estimator, σ = √(J(1−J)/H)). Joining two fixed-width 64-long arrays
    * is far cheaper than joining variable-width shingle sets, so use this
    * to prefilter before exact verification — on near-duplicate-saturated
    * corpora the candidate set is O(n²) and the estimate keeps the exact
    * verify join proportional to the true output size.
    */
  def estimateJaccard(candidates: DataFrame, signed: DataFrame, idCol: String,
                      signatureCol: String): DataFrame = {
    val s = signed.select(col(idCol).as("id"), col(signatureCol).as("sig"))
    candidates
      .join(s.withColumnRenamed("id", "id_a").withColumnRenamed("sig", "sig_a"), "id_a")
      .join(s.withColumnRenamed("id", "id_b").withColumnRenamed("sig", "sig_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).as("matching_hashes"))
  }

  /** Duplicate-cluster representatives by shortcut-augmented min-label
    * propagation over the verified-pair graph: every document ends up
    * labelled with the smallest doc id reachable from it. This is the
    * piece that makes dedup *actionable* at scale — pair lists on
    * crawl-like corpora are O(n²), but "keep one representative per
    * cluster" is O(n).
    *
    * Labels are parent pointers (rep(v) <= v; a root points at itself).
    * Each round is hook-and-shortcut:
    *  - hook: every node v offers min(rep(u) for u in N(v), rep(rep(v)))
    *    to itself AND to its parent rep(v), so a whole tree takes a
    *    smaller label at once instead of one graph hop per round;
    *  - shortcut: rep := rep(rep), halving every pointer chain.
    * Every term is a label of the same component and never larger than
    * the one it replaces, so labels decrease monotonically to the
    * component minimum. Neighbour-only propagation (even with pointer
    * jumping) moves a smaller label one graph hop per round: a path
    * whose ids are in random order needs O(n) rounds. With the hook, a
    * path of n nodes numbered in order settles within ceil(log4 n) + 1
    * rounds (the confirmation round included), and in random id order
    * it measured at most 11 rounds at n = 8192 (a replay of the round
    * outside Spark; every random graph of <= 25 nodes in a 200,000-draw
    * sweep settled within 5). Each round is ONE job: the convergence
    * count rides the checkpoint pass via observe().
    *
    * Convergence is detected by a round that changes nothing, so one
    * round of the budget is the confirmation pass: with the neighbour-min
    * fused into initialization (round 0 is free), the effective change
    * budget is `maxIters - 1` rounds. Non-convergence within `maxIters`
    * THROWS (truncated labels are wrong answers, and silently returning
    * them corrupts downstream keep/drop decisions). Cost per extra round
    * is a few joins over the edge-touching subgraph; raise maxIters
    * rather than catching.
    *
    * Storage hygiene: each round checkpoints one label frame (local or
    * reliable per the [[graft.Checkpoints]] session policy); the
    * superseded round's blocks are released as soon as the new round
    * materializes (a no-op under reliable mode — files, not blocks),
    * and the edge frame is released once the loop exits — only the
    * final labels (+ the node list) stay pinned for the result.
    *
    * Small graphs skip the iteration entirely: when the pair count is
    * ≤ `smallGraphThreshold` (long ids only), the edge list is collected
    * and labelled by driver union-find — bit-identical output (property-
    * swept against the distributed path), one job instead of 2+rounds.
    * Set `smallGraphThreshold = 0` to force the distributed path.
    */
  def clusterRepresentatives(nodes: DataFrame, pairs: DataFrame, idCol: String,
                             maxIters: Int = 10,
                             smallGraphThreshold: Long = 250000L): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    // materialize the edge list once — every iteration references it,
    // and recomputing an upstream LSH pipeline per round would dominate
    // the whole job. Symmetrization explodes each pair into both
    // directions in ONE pass over `pairs` (a union of two selects would
    // evaluate the upstream pair pipeline — here the whole LSH verify
    // tier — twice inside this checkpoint job).
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .transform(graft.Checkpoints.materialize)
    // Small-graph fast path: a duplicate graph under `smallGraphThreshold`
    // pairs is a bounded driver artifact (the IVF-centroid pattern), and
    // driver union-find labels it EXACTLY (same min-id-per-component
    // contract, equivalence property-swept in DedupSpec) in one collect +
    // one broadcast re-attach join, replacing ~2+rounds of checkpoint
    // jobs of fixed overhead. Sizing is JVM-honest: a collected pair is
    // a boxed Row (~100 bytes, not 16), and the label frame becomes a
    // LocalRelation broadcast of up to 2·threshold tuples — the 250k
    // default keeps the transient driver footprint ~25 MB and the
    // broadcast ≤500k rows on ANY driver size. Raise it deliberately on
    // big drivers; 0 forces the distributed path. The distributed
    // propagation below stays the unbounded path; long-id graphs only (a
    // non-integral id type falls through). The count itself is cheap:
    // the edge blocks were just materialized by the checkpoint.
    val longIds = edges.schema("src").dataType ==
      org.apache.spark.sql.types.LongType
    if (longIds && smallGraphThreshold > 0 &&
        edges.count() / 2 <= smallGraphThreshold) {
      val undirected = edges.filter(col("src") < col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      GraftColumnBridge.unpersistLocalCheckpoint(edges)
      val spark = nodes.sparkSession
      import spark.implicits._
      val allNodesS = nodes.select(col(idCol).as("id"))
      if (undirected.isEmpty)
        return allNodesS.select(col("id"), col("id").as("rep"))
      // union-find with path halving; unions always attach the LARGER
      // root under the smaller, so every terminal root IS its
      // component's minimum id — the propagation contract exactly
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) {
          val p = parent(r)
          parent(r) = parent.getOrElse(p, p) // halve
          r = parent(r)
        }
        r
      }
      undirected.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val members = undirected.flatMap(e => Seq(e._1, e._2)).distinct
      val labels = members.map(m => (m, find(m))).toSeq.toDF("id", "rep")
      return allNodesS.join(broadcast(labels), Seq("id"), "left")
        .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
    }
    // only nodes that touch an edge can ever change label — iterate over
    // that (typically much smaller) subgraph and re-attach the isolated
    // nodes at the end with their own id. On a crawl-scale corpus most
    // documents are NOT near-duplicates, so this shrinks every per-round
    // join by the non-duplicate fraction.
    // read exactly once (the final re-attach join) — checkpointing it
    // would cost a whole job to save nothing
    val allNodes = nodes.select(col(idCol).as("id"))
    // round 0 fused into initialization: rep0(v) = min(v, min N(v)) is
    // one aggregation over the symmetrized edges — the same cost as the
    // DISTINCT that a plain identity init needs, but one whole
    // propagation round cheaper
    var labels = edges.groupBy(col("dst").as("id"))
      .agg(min(col("src")).as("__nbr"))
      .select(col("id"), least(col("id"), col("__nbr")).as("rep"))
      .transform(graft.Checkpoints.materialize)
    var iter = 0
    var converged = labels.isEmpty // no candidate pairs => nothing to propagate
    while (iter < maxIters && !converged) {
      // pointer edges (src = rep(v), dst = v) give v access to rep(rep(v))
      // through the same neighbour-min aggregation as the graph edges;
      // rep values are always ids of edge-touching nodes, so the label
      // joins below resolve every edge end
      val augmented = edges.union(labels.select(col("rep").as("src"), col("id").as("dst")))
      val offered = augmented
        .join(labels.select(col("id").as("src"), col("rep").as("cand")), "src")
        .join(labels.select(col("id").as("dst"), col("rep").as("dst_rep")), "dst")
      // hook: each offer goes to its endpoint AND to the endpoint's
      // parent, so a whole tree takes a smaller label at once
      val best = offered.select(col("dst").as("node"), col("cand"))
        .union(offered.select(col("dst_rep").as("node"), col("cand")))
        .groupBy(col("node")).agg(min(col("cand")).as("cand"))
      val hooked = labels.join(best, labels("id") === best("node"), "left")
        .select(col("id"), least(col("rep"), coalesce(col("cand"), col("rep"))).as("rep"),
          col("rep").as("__prev"))
      // shortcut: rep := rep(rep), halving every pointer chain
      val parents = hooked.select(col("id").as("__p"), col("rep").as("__pp"))
      // fold the convergence test into the materialization pass: observe()
      // counts label changes during the checkpoint job itself, so each
      // round runs ONE job instead of a checkpoint plus a changed-rows scan
      val obs = new org.apache.spark.sql.Observation()
      val updated = hooked.join(parents, col("rep") === col("__p"))
        .select(col("id"), col("__pp").as("rep"), col("__prev"))
        .observe(obs, sum(when(col("rep") =!= col("__prev"), 1L).otherwise(0L)).as("changed"))
        .transform(graft.Checkpoints.materialize)
      // sum() over zero rows observes NULL — an empty label frame is
      // trivially converged, not a change
      converged = Option(obs.get("changed")).forall(_ == 0L)
      // the new round is materialized; the previous round's checkpoint
      // blocks are dead weight from here on — release them
      GraftColumnBridge.unpersistLocalCheckpoint(labels)
      labels = updated.drop("__prev")
      iter += 1
    }
    GraftColumnBridge.unpersistLocalCheckpoint(edges)
    if (!converged)
      throw new IllegalStateException(
        s"[dedup] label propagation did NOT converge after $maxIters rounds " +
          s"(last round still changed labels — the confirmation pass consumes one " +
          s"round, so the change budget was ${maxIters - 1}); raise maxIters " +
          "(cost is one job per extra round)")
    allNodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
  }

  /** Exact Jaccard verification of candidate pairs: join shingle arrays
    * back and compare with integer arithmetic only
    * (|A∩B| · denom >= |A∪B| · num  ⇔  J >= num/denom), so thresholds
    * are exact and engine-independent.
    *
    * The shingle arrays are SETS (distinct — [[shingles]] guarantees it),
    * so the overlap runs through the fused `IntersectionSize` kernel
    * (one hash set, no materialized intersect/union arrays per pair) and
    * |A∪B| = |A| + |B| − |A∩B| arithmetically. The pair join is the hot
    * dimension of the whole dedup pipeline; per-pair constants dominate.
    */
  /** Quality-aware representative selection over clustering labels:
    * instead of the min-id keeper `clusterRepresentatives` implies,
    * pick per cluster the member maximizing `(score, id)` — what
    * curation pipelines actually want (keep the LONGEST / highest-
    * quality member of a near-dup cluster, not the accidental
    * smallest id). One join to attach scores + one `max_by` hash
    * aggregation over the |nodes|-row label frame — no window, no
    * per-cluster sort.
    *
    * @param labels `(id, rep)` from [[clusterRepresentatives]]
    * @param scored `(idCol, scoreCol)` per-member scores; members
    *   missing from `scored` are dropped from consideration (a
    *   cluster with NO scored member is absent from the output)
    * @return `(rep, keep_id, n_members)` — one row per cluster
    */
  def bestRepresentatives(labels: DataFrame, scored: DataFrame,
                          idCol: String, scoreCol: String): DataFrame =
    labels
      .join(scored.select(col(idCol).as("id"), col(scoreCol).as("__score")), Seq("id"))
      .groupBy(col("rep"))
      .agg(max_by(col("id"), struct(col("__score"), col("id"))).as("keep_id"),
        count(lit(1)).as("n_members"))

  def verifyJaccard(candidates: DataFrame, shingled: DataFrame, idCol: String,
                    shingleCol: String, thresholdNum: Int, thresholdDenom: Int): DataFrame = {
    val s = shingled.select(col(idCol).as("id"), col(shingleCol).as("sh"))
    candidates
      .join(s.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(s.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.SetExpressions.intersectionSize(col("sh_a"), col("sh_b"))
          .as("inter_size"),
        (size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long")).as("__sz"))
      .select(col("id_a"), col("id_b"), col("inter_size"),
        (col("__sz") - col("inter_size")).as("union_size"))
      .filter(col("inter_size") * thresholdDenom >= col("union_size") * thresholdNum)
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * n-gram with a reference set (the standard "did eval data leak into
    * training data" check; n=8..13 in published pipelines). Returns
    * (id, n_shared) for flagged documents — anti-join the result to keep
    * the clean remainder.
    *
    * Plan shape: both sides explode to distinct per-doc n-grams, the
    * reference side deduplicates globally, one equi-join on the gram.
    * The reference (a benchmark suite) is orders of magnitude smaller
    * than the corpus, so Catalyst broadcasts it and the corpus side
    * streams — no corpus shuffle. For corpora where raw gram strings
    * make the broadcast too fat, pre-hash both sides with the same
    * expression (e.g. xxhash64(gram)); the join logic is unchanged.
    */
  def decontaminate(corpus: DataFrame, reference: DataFrame, idCol: String,
                    textColName: String, n: Int): DataFrame = {
    val cg = corpus.select(col(idCol),
      explode(shingles(textColName, n)).as("g"))
    val rg = reference.select(explode(shingles(textColName, n)).as("g")).distinct()
    cg.join(rg, "g")
      .groupBy(col(idCol))
      .agg(countDistinct(col("g")).as("n_shared"))
  }

  /** Bloom-prefiltered decontamination — same RESULT as [[decontaminate]]
    * (bit-for-bit: the oracle is shared), different scale path. The
    * plain form ships the deduped reference gram set to every probe
    * (broadcast for small suites, shuffle join otherwise); this form
    * builds a fixed-size Bloom filter over the reference grams
    * distributedly, embeds it in the corpus-side scan as a codegen'd
    * bit-test, and only the bloom SURVIVORS (true matches + fpp noise)
    * reach the exact verify join. At 1e9 reference grams the filter is
    * ~1.2 GB at 1% fpp where the raw gram set is tens of GB, and the
    * join input shrinks from every-corpus-gram to matching-grams —
    * false positives cost join input, never correctness, so an
    * undersized filter degrades throughput, not results.
    *
    * The filter rides the plan as a SCALAR SUBQUERY — the same shape
    * Catalyst's own runtime row-level filtering injects — so building
    * this DataFrame launches no job; the subquery executes inside the
    * one query execution. An empty reference yields a null filter,
    * `might_contain` evaluates null, and the candidate set is empty —
    * same result as the plain form.
    */
  def decontaminateBloom(corpus: DataFrame, reference: DataFrame, idCol: String,
                         textColName: String, n: Int,
                         expectedGrams: Long, fpp: Double = 0.01): DataFrame = {
    val rg = reference.select(explode(shingles(textColName, n)).as("g")).distinct()
    val cg = corpus.select(col(idCol), explode(shingles(textColName, n)).as("g"))
    val bits = graft.functions.BloomSet.suggestNumBits(expectedGrams, fpp)
    // Built from the RAW gram stream, not `rg`: a bloom is duplicate-
    // insensitive (re-inserting sets the same bits), so the subquery is
    // a shuffle-free scan with partial aggregation whose single row is
    // sketch-sized (bits/8 bytes), never data-sized. (Sharing `rg`'s
    // distinct exchange instead does NOT pay: the verify join's
    // constraint propagation pushes the might_contain predicate onto
    // the rg subtree, so the two subtrees never canonicalize equal and
    // exchange reuse cannot fire.)
    val bloom = reference
      .select(explode(shingles(textColName, n)).as("g"))
      .agg(graft.functions.BloomSet.bloomAgg(col("g"), expectedGrams, bits).as("bf"))
      .scalar()
    cg.filter(graft.functions.BloomSet.mightContain(bloom, col("g")))
      .join(rg, "g")
      .groupBy(col(idCol))
      .agg(countDistinct(col("g")).as("n_shared"))
  }

  /** Sub-document boilerplate removal (the C4/RefinedWeb "repeated
    * paragraph" pass re-expressed for span units): split every document
    * into non-overlapping `spanTokens`-token spans, drop every span
    * whose exact text occurs in >= `minDocs` DISTINCT documents
    * (header/footer/license boilerplate repeats across documents;
    * genuine content does not), and reassemble the survivors in
    * original order.
    *
    * Output: (idCol, clean_text, n_spans, n_removed) — one row per
    * input document, including documents whose every span was removed
    * (clean_text = '').
    *
    * Scale: two shuffles, both on the span hash / doc id, never the
    * full document — (1) the span-frequency groupBy + left_anti carry
    * (span, doc_id) pairs where span is `spanTokens` words, (2) the
    * reassembly groupBy carries the surviving spans of each doc, which
    * is bounded by the document itself. The boilerplate set is NOT
    * collected or broadcast — the anti-join stays distributed, so a
    * pathological corpus where half the spans are boilerplate still
    * streams. Span counting uses count(DISTINCT doc_id), not count(*),
    * so a single document repeating its own phrase never self-censors.
    */
  def spanDedup(df: DataFrame, idCol: String, textColName: String,
                spanTokens: Int, minDocs: Int,
                keepFirst: Boolean = false): DataFrame = {
    require(spanTokens > 0 && minDocs > 1,
      s"need spanTokens > 0 and minDocs > 1, got $spanTokens / $minDocs")
    val reserved = Set("span", "span_idx", "clean_text", "n_spans", "n_kept",
      "n_removed", "n_docs", "__w", "__wid", "__widx")
    for (c <- df.columns if reserved(c) && c != idCol)
      throw new IllegalArgumentException(
        s"spanDedup: column $c collides with a reserved internal/output name")
    val spans = df.select(col(idCol),
      posexplode(graft.pipeline.Text.chunks(textColName, spanTokens, 0))
        .as(Seq("span_idx", "span")))
    val boilerplate = spans.groupBy(col("span"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("span")
    // drop-all (boilerplate removal) or keep-first (C4's repeated-span
    // rule: the occurrence with the smallest (doc, position) survives,
    // every later copy is dropped). keep-first resolves the winner with
    // one min-struct aggregate per boilerplate span — same shuffle key
    // as the frequency count, no window over the occurrence list.
    val kept =
      if (!keepFirst) spans.join(boilerplate, Seq("span"), "left_anti")
      else {
        val winners = spans.join(boilerplate, Seq("span"))
          .groupBy(col("span"))
          .agg(min(struct(col(idCol), col("span_idx"))).as("__w"))
          .select(col("span"), col(s"__w.$idCol").as("__wid"),
            col("__w.span_idx").as("__widx"))
        spans.join(winners, Seq("span"), "left")
          .filter(col("__wid").isNull ||
            (col(idCol) === col("__wid") && col("span_idx") === col("__widx")))
          .select(col("span"), col(idCol), col("span_idx"))
      }
    val reassembled = kept
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("span_idx"), col("span")))),
          s => s.getField("span"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    // span count mirrors Text.chunks bit-exactly: ceil(n/size) as
    // integer `div` on non-negative operands, min 1
    val nToksSql =
      s"size(filter(split(trim($textColName), '\\\\s+'), t -> t != ''))"
    df.select(col(idCol),
        expr(s"greatest(CAST(1 AS BIGINT), CAST(($nToksSql + ${spanTokens - 1}) " +
          s"div $spanTokens AS BIGINT))").as("n_spans"))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_spans"),
        (col("n_spans") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** 64-bit SimHash from the token array: bit i of the signature is the
    * sign of Σ_tokens (±1 by bit i of xxhash64(token)). One aggregate
    * expression per row; no shuffle.
    */
  def simHashExpr(textColName: String): Column = {
    val toks = s"filter(split(trim($textColName), '\\\\s+'), t -> t != '')"
    val acc = s"aggregate($toks, array_repeat(0L, 64), (acc, t) -> " +
      s"zip_with(acc, transform(sequence(0, 63), i -> " +
      s"CASE WHEN (shiftright(xxhash64(t), i) & 1) = 1 THEN 1L ELSE -1L END), " +
      s"(x, y) -> x + y))"
    // bind the vote array once (see simHashPortableExpr): inlining $acc
    // per bit would re-run the full token accumulation 64× per row
    expr(s"aggregate(flatten(transform(array($acc), a -> " +
      s"transform(sequence(0, 63), i -> " +
      s"CASE WHEN element_at(a, i + 1) > 0 THEN shiftleft(1L, i) ELSE 0L END))), " +
      s"0L, (x, y) -> x | y)")
  }

  /** Portable 60-bit SimHash: each token hashes to the first 15 md5 hex
    * digits parsed as a 60-bit integer (digit-positional, most
    * significant first — the same value any engine gets from its own
    * hex parse or a digit sum), and signature bit i is the sign of the
    * per-token votes of hash bit i. Computable bit-identically in any
    * engine with md5 — this is the oracle-checked gate variant.
    * `simHashExpr` (xxhash64, 64-bit) stays the fast production
    * default; the structure (sign of per-bit ±1 token votes) is
    * identical.
    */
  def simHashPortableExpr(textColName: String): Column = {
    val toks = s"filter(split(trim($textColName), '\\\\s+'), t -> t != '')"
    // ONE conv per token — the 15-hex-digit md5 prefix parsed as a
    // 60-bit Long (same parse as the portable fingerprints); bit i is
    // then a shift. The per-digit conv/substring form cost 60 string
    // ops per token and dominated the whole gate query at bench scale.
    val hs = s"transform($toks, t -> " +
      s"CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"
    val acc = s"aggregate($hs, array_repeat(0L, 60), (acc, h) -> " +
      s"zip_with(acc, transform(sequence(0, 59), i -> " +
      s"CASE WHEN (shiftright(h, CAST(i AS INT)) & 1) = 1 THEN 1L ELSE -1L END), " +
      s"(x, y) -> x + y))"
    // bind the vote array once as a lambda variable: referencing $acc
    // inside the per-bit lambda would re-run the full token accumulation
    // once per bit (60× the work per row)
    expr(s"aggregate(flatten(transform(array($acc), a -> " +
      s"transform(sequence(0, 59), i -> " +
      s"CASE WHEN element_at(a, i + 1) > 0 THEN shiftleft(1L, CAST(i AS INT)) ELSE 0L END))), " +
      s"0L, (x, y) -> x | y)")
  }

  /** Near-dup pairs by SimHash: band the 64-bit signature into 4 16-bit
    * chunks (hamming<=3 pairs must collide on at least one chunk), join
    * on chunks, verify hamming distance with bit_count(xor). Radii in
    * (3, 15] route through the shared multi-index machinery
    * (`Multimodal.phashNearDup` — per-distance optimal band layout with
    * probe masks), so the whole [0, 15] range is recall-lossless under
    * one entry point.
    */
  def simHashPairs(df: DataFrame, idCol: String, simhashCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (the per-distance band layouts in Multimodal.bandLayout cover radii 0-15), " +
        s"got $maxHamming")
    if (maxHamming > 3)
      return Multimodal.phashNearDup(df.select(col(idCol), col(simhashCol)),
          idCol, simhashCol, maxHamming)
        .select(col("a_id").as("id_a"), col("b_id").as("id_b"), col("hamming"))
    val chunkCols = (0 until 4).map(c =>
      shiftright(col(simhashCol), c * 16).bitwiseAND(lit(0xFFFFL)))
    val chunks = df.select(col(idCol).as("id"), col(simhashCol).as("sig"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk", "ck")))
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      // filter BEFORE distinct: hamming is a function of the pair, so
      // the order is semantics-free, and the dedup shuffle then carries
      // only true near-dups instead of every chunk collision
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Top-k nearest signatures by Hamming distance — integer similarity
    * retrieval over SimHash sketches. All arithmetic is
    * bit_count(xor) on Longs, so ranks (ties broken by neighbor id)
    * are bit-identical in any engine: the hash-oracle-checkable twin
    * of float ANN ranking. Feed it [[simHashExpr]] signatures in
    * production or [[simHashPortableExpr]] for cross-engine gates.
    *
    * Scale shape: the query signature set broadcasts (16 bytes a row);
    * the corpus streams through once; the ranking window shuffles
    * (query_id, neighbor_id, hamming) only. When the query set is
    * itself corpus-sized, route through [[simHashPairs]]' banded join
    * instead — this tier is for query batches ≪ corpus.
    * [[hammingTopKAuto]] makes that routing decision automatically.
    */
  def hammingTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                  sigCol: String, k: Int,
                  excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(sigCol).as("qs"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(sigCol).as("cs"))
    val scored = c.crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id")
              else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        bit_count(col("qs").bitwiseXOR(col("cs"))).cast("long").as("hamming"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "hamming")
  }

  /** [[hammingTopK]] restricted to Hamming radius `maxHamming` (≤ 15),
    * with the execution route picked by query cardinality:
    *
    *  - ≤ `broadcastMaxQueries` queries → the [[hammingTopK]] shape
    *    (query set broadcasts, corpus streams once), post-filtered to
    *    the radius. Ranking by (hamming, neighbor) means the
    *    within-radius rows always hold the lowest ranks, so the filter
    *    commutes with the top-k.
    *  - more → the banded multi-index shape shared with
    *    `Multimodal.phashNearDup`: both sides explode into
    *    `Multimodal.bandLayout(maxHamming)` band keys, the QUERY side
    *    additionally probes every key within radius ⌊maxHamming/B⌋ of
    *    each band value (broadcast (band, mask) frame), and candidates
    *    form on a plain (band, key) shuffle join — NO corpus-sized
    *    broadcast anywhere. The pigeonhole rule makes the candidate
    *    set exact at the radius, which is what keeps the two routes
    *    row-identical.
    *
    * @param numQueries pass the known query count to skip the counting
    *   job the routing decision otherwise runs.
    */
  def hammingTopKAuto(queries: DataFrame, corpus: DataFrame, idCol: String,
                      sigCol: String, k: Int, maxHamming: Int = 3,
                      excludeSelf: Boolean = true,
                      broadcastMaxQueries: Long = 1L << 17,
                      numQueries: Option[Long] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (the per-distance band layouts in Multimodal.bandLayout cover radii 0-15), got $maxHamming")
    val nQ = numQueries.getOrElse(queries.count())
    if (nQ <= broadcastMaxQueries)
      hammingTopK(queries, corpus, idCol, sigCol, k, excludeSelf)
        .filter(col("hamming") <= maxHamming)
    else {
      val (layout, radius) = Multimodal.bandLayout(maxHamming)
      def chunked(df: DataFrame, outId: String, outSig: String) = {
        val sig = col(sigCol)
        val chunkCols = layout.map { case (off, w) =>
          shiftrightunsigned(sig, off).bitwiseAND(lit((1L << w) - 1)) }
        df.select(col(idCol).as(outId), sig.as(outSig),
          posexplode(array(chunkCols: _*)).as(Seq("chunk", "ck")))
      }
      val qc0 = chunked(queries, "query_id", "qs")
      val qc =
        if (radius == 0) qc0
        else {
          val spark = queries.sparkSession
          import spark.implicits._
          qc0.join(broadcast(
              Multimodal.bandMasks(layout, radius).toDF("chunk", "__m")), Seq("chunk"))
            .select(col("query_id"), col("qs"), col("chunk"),
              col("ck").bitwiseXOR(col("__m")).as("ck"))
        }
      val cc = chunked(corpus, "neighbor_id", "cs")
      val scored = qc.join(cc, Seq("chunk", "ck"))
        .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id")
                else lit(true))
        .select(col("query_id"), col("neighbor_id"),
          bit_count(col("qs").bitwiseXOR(col("cs"))).cast("long").as("hamming"))
        // radius filter BEFORE the dedup, as in simHashPairs: the
        // distinct shuffle carries only true near-dups
        .filter(col("hamming") <= maxHamming)
        .distinct()
      val w = Window.partitionBy("query_id")
        .orderBy(col("hamming").asc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "hamming")
    }
  }

  // ------------------------------------------------------------------
  // Sub-document substring dedup at token-gram granularity — the
  // distributed analog of suffix-array dedup (Lee et al. 2022,
  // "Deduplicating Training Data Makes Language Models Better"): a
  // k-token gram occurring >= minCount times corpus-wide (all
  // occurrences, same-document repeats included) marks a duplicated
  // span; spans are cut from the text at token boundaries. A suffix
  // array itself doesn't distribute; counting fixed-width grams over
  // one explode + one groupBy computes the same "substring appears
  // elsewhere" predicate at any scale.
  // ------------------------------------------------------------------

  /** (id, pos 1-based, gram-key) rows for every k-token gram. With
    * `hashGrams` the key is xxhash64 of the gram text — the shuffle
    * carries 8 bytes a gram instead of k tokens (the 100-TB arm;
    * DupSpanSpec proves it row-equal to the raw-text arm, which the
    * cross-engine oracle checks).
    */
  private def gramRows(df: DataFrame, idCol: String, textCol: String,
                       k: Int, hashGrams: Boolean): DataFrame = {
    val toks = col("__toks")
    val positions = when(size(toks) >= k,
      sequence(lit(1), size(toks) - (k - 1)))
      .otherwise(array().cast("array<int>"))
    val withG = df.select(col(idCol).as("__id"),
        Text.tokens(col(textCol)).as("__toks"))
      .select(col("__id"), explode(positions).as("__pos"), col("__toks"))
      .select(col("__id"), col("__pos"),
        array_join(slice(col("__toks"), col("__pos"), lit(k)), " ").as("__gtext"))
    withG.select(col("__id"), col("__pos"),
      (if (hashGrams) xxhash64(col("__gtext")) else col("__gtext")).as("__g"))
  }

  /** Corpus-wide duplicated-gram keys: occurrences >= minCount. */
  private def dupGrams(grams: DataFrame, minCount: Long): DataFrame =
    grams.groupBy(col("__g")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select(col("__g"))

  /** Per-document duplicated-span profile: (id, n_grams, n_dup_grams).
    * n_dup_grams counts gram positions whose gram text occurs at least
    * `minCount` times corpus-wide — the decision input for "how much of
    * this document is boilerplate copied from elsewhere". All-integer
    * output, oracle-exact with `hashGrams = false`.
    *
    * Scale shape: one explode to (id, pos, gram-key), one count
    * aggregation on the key, one semi join back — with hashed grams
    * nothing wider than (long, int, long) ever shuffles.
    */
  def dupGramProfile(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, minCount: Long = 2L,
                     hashGrams: Boolean = true): DataFrame = {
    require(k >= 1, s"gram width must be positive, got $k")
    val grams = gramRows(df, idCol, textCol, k, hashGrams)
    val dupCounts = grams
      .join(dupGrams(grams, minCount), Seq("__g"), "left_semi")
      .groupBy(col("__id")).agg(count(lit(1)).as("__ndup"))
    val toks = Text.tokens(col(textCol))
    df.select(col(idCol).as("__id"),
        greatest(size(toks) - (k - 1), lit(0)).cast("long").as("n_grams"))
      .join(dupCounts, Seq("__id"), "left_outer")
      .select(col("__id").as(idCol), col("n_grams"),
        coalesce(col("__ndup"), lit(0L)).as("n_dup_grams"))
  }

  /** Cut duplicated spans out of the text: every token covered by a
    * duplicated k-gram (as in [[dupGramProfile]]) is dropped and the
    * survivors re-join on single spaces. Output: (id, n_tokens,
    * n_tokens_kept, text_cut) with the original row multiplicity —
    * the duplicated-position list re-attaches via a LEFT join, so
    * rows with no duplicated span (or a null id) pass through whole.
    *
    * The coverage mask is exists(positions, p -> p <= i < p+k) per
    * token — positions per document are bounded by its gram count, and
    * overlapping spans merge for free (a token under any span drops).
    */
  def cutDupSpans(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, minCount: Long = 2L,
                  hashGrams: Boolean = true): DataFrame = {
    require(k >= 1, s"gram width must be positive, got $k")
    val grams = gramRows(df, idCol, textCol, k, hashGrams)
    val dupPos = grams
      .join(dupGrams(grams, minCount), Seq("__g"), "left_semi")
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__pos"))).as("__dps"))
    val toks = Text.tokens(col(textCol))
    df.select(col(idCol), toks.as("__toks"))
      .join(dupPos, col(idCol) === dupPos.col("__id"), "left_outer")
      .withColumn("__kept", filter(col("__toks"), (t, i) =>
        !exists(coalesce(col("__dps"), array().cast("array<int>")),
          p => i + 1 >= p && i + 1 < p + k)))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_tokens_kept"),
        array_join(col("__kept"), " ").as("text_cut"))
  }

  /** Shared-k-gram candidate pairs: documents sharing at least
    * `minShared` DISTINCT k-token grams, with the shared count — the
    * minhash-free candidate generator for n-gram-overlap near-dup
    * detection (exact where LSH is probabilistic; pairs with high
    * distinct-gram overlap are exactly the high-containment pairs).
    * Feed the result to [[verifyJaccard]] or [[editVerify]].
    *
    * Scale shape: one explode to (id, gram), one distinct, one
    * self-equi-join on the gram key, one count aggregation — with
    * `hashGrams` the shuffled key is 8 bytes. A gram present in m docs
    * fans out to m²/2 pairs, so callers pick k large enough that
    * cross-document gram collisions mean real overlap (k=6+ text
    * grams are near-unique outside true near-dups; stopword-heavy
    * small-k grams would be the skew case). `hashGrams = false` is
    * the oracle-exact arm.
    */
  def gramCandidates(df: DataFrame, idCol: String, textCol: String, k: Int,
                     minShared: Long, hashGrams: Boolean = true,
                     maxGramFreq: Int = 10000): DataFrame = {
    require(k >= 1 && minShared >= 1L,
      s"need k >= 1 and minShared >= 1, got k=$k minShared=$minShared")
    require(maxGramFreq >= 2, s"maxGramFreq must be >= 2, got $maxGramFreq")
    val g = gramRows(df, idCol, textCol, k, hashGrams)
      .select(col("__id"), col("__g")).distinct()
    // stop-gram cap — the pair tier's candidate bound, same discipline
    // as the LSH tier's maxBucketSize: a gram shared by f documents
    // contributes f·(f−1)/2 pairs to the self-join, so ONE ubiquitous
    // k-gram ("the quick brown" boilerplate) at 100 TB turns the join
    // quadratic. Grams above the frequency cap are dropped from
    // candidate generation; pairs whose overlap consists ONLY of such
    // boilerplate lose recall by design (they are also the pairs
    // minShared exists to reject), and the cap is sized far above any
    // gram frequency the oracle fixtures reach, so gate results are
    // unchanged.
    val kept = g.withColumn("__f", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))))
      .filter(col("__f") <= maxGramFreq).drop("__f")
    kept.select(col("__id").as("id_a"), col("__g"))
      .join(kept.select(col("__id").as("id_b"), col("__g")), Seq("__g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= minShared)
  }

  /** Exact edit-distance verification of candidate pairs — the verify
    * tier when near-duplicate semantics are defined on raw characters
    * rather than token sets (the character-level twin of
    * [[verifyJaccard]]). Joins each (id_a, id_b) candidate back to its
    * text and keeps pairs whose Levenshtein distance is at most
    * `maxDist`, with the exact distance as `edit_dist`.
    *
    * Scale shape: two id-keyed joins re-attach text onto the bounded
    * candidate set (document text never rides a shuffle wider than the
    * candidates); the quadratic DP runs only on gated survivors, and
    * the threshold form of `levenshtein` abandons a pair's DP as soon
    * as the running minimum exceeds `maxDist` — O(maxDist·len), not
    * O(len²), on the far-apart pairs that dominate candidate sets.
    */
  def editVerify(candidates: DataFrame, df: DataFrame, idCol: String,
                 textCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val t = df.select(col(idCol).as("__jid"), col(textCol).as("__tx"))
    candidates
      .join(t.withColumnRenamed("__jid", "id_a")
        .withColumnRenamed("__tx", "__ta"), "id_a")
      .join(t.withColumnRenamed("__jid", "id_b")
        .withColumnRenamed("__tx", "__tb"), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long")
          .as("edit_dist"))
      // the threshold form returns -1 past the bound; keep real hits
      .filter(col("edit_dist") >= 0L && col("edit_dist") <= maxDist.toLong)
  }

  /** Cross-group content-overlap census: for every pair of groups
    * (sources, crawl snapshots, domains) the number of DISTINCT k-token
    * grams both contain, plus the diagonal (group_a = group_b) carrying
    * each group's own distinct-gram count so overlap coefficients /
    * Jaccard are computable from the output alone. This is the
    * "how much of source B is already in source A" question every
    * mixture decision starts from — full-document digests miss it
    * entirely when copies are partial (and the synthetic corpus has
    * zero full-document cross-source dups but thousands of shared
    * spans).
    *
    * Scale shape: one explode to (group, gram-key), one distinct, one
    * self-equi-join on the gram key, one count aggregation. With
    * `hashGrams` the shuffled key is 8 bytes; per-gram fan-out is
    * bounded by the group count (a gram in all G groups yields G²/2
    * pairs), so the join never blows up past |distinct grams|·G²/2 —
    * and the output is a G×G matrix. Groups ride the shuffle as
    * values, never as partition-skewing keys. `hashGrams = false` is
    * the oracle-exact arm (DupSpanSpec-style row-equality ties the two).
    */
  def crossOverlapMatrix(df: DataFrame, textCol: String, groupCol: String,
                         k: Int = 6, hashGrams: Boolean = true): DataFrame = {
    require(k >= 1, s"gram width must be positive, got $k")
    val gg = gramRows(df, groupCol, textCol, k, hashGrams)
      .select(col("__id").as("__grp"), col("__g")).distinct()
    val a = gg.select(col("__grp").as("group_a"), col("__g"))
    val b = gg.select(col("__grp").as("group_b"), col("__g"))
    val cross = a.join(b, Seq("__g"))
      .filter(col("group_a") < col("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
    val diag = gg.groupBy(col("__grp").as("group_a"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .select(col("group_a"), col("group_a").as("group_b"),
        col("n_shared_grams"))
    cross.unionByName(diag)
  }
}
