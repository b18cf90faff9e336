package graft.config

import graft.operators.Relational.Rename

/** Pipeline description, mirroring the reference's YAML config model
  * (config/MigratorConfig.scala:14-38: source, target, renames,
  * savepoints, skip-sets, validation) minus the service-backed arms that
  * cannot run in this environment (CQL/DynamoDB endpoints become the
  * Parquet/JDBC/S3-export arms; the dispatch shape is identical).
  *
  * Decoding: a dependency-free line-based `key: value` format (the
  * environment has no YAML library; the *validation* semantics —
  * eager cross-checks at load time, reference MigratorConfig.scala:59-107
  * — are what matters and are preserved). Each key is named once, in
  * the section builder that reads it (`PipelineConfig.parse`): a key is
  * known if and only if some section builder reads it, and a missing
  * required value or a malformed one is a `Left`, never an exception.
  */
final case class PipelineConfig(
    source: SourceConfig,
    target: TargetConfig,
    renames: List[Rename],
    savepointsDir: Option[String],
    skipFiles: Set[String],
    validation: Option[ValidationConfig],
    stream: Option[StreamConfig] = None,
    transforms: List[TransformConfig] = Nil) {

  /** Loggable rendering with sensitive material redacted (reference:
    * config/MigratorConfig.scala:134-153 + SparkSecretRedaction — the
    * `where` clause may embed literals from user data, JDBC URLs may
    * embed credentials; neither belongs in logs).
    */
  def renderRedacted: String = {
    def src = source match {
      case SourceConfig.Parquet(path, where, cols, versioned, versionAt, _) =>
        s"parquet(path=$path, where=${where.map(_ => "<redacted>")}, columns=$cols" +
          (if (versioned) ", versioned" else "") +
          versionAt.map(n => s", versionAt=$n").getOrElse("") + ")"
      case j: SourceConfig.Jdbc =>
        val url = j.url.replaceAll("(?i)(password|user)=[^&;]*", "$1=<redacted>")
        s"jdbc(url=$url, table=${j.table}, where=${j.where.map(_ => "<redacted>")}, " +
          s"partitions=${j.numPartitions})"
      case SourceConfig.DynamoS3Export(p) => s"dynamo-s3-export(path=$p)"
      case c: SourceConfig.Csv =>
        s"csv(path=${c.path}, header=${c.header}, delimiter=${c.delimiter}, " +
          s"schema=${c.schema.isDefined}, where=${c.where.map(_ => "<redacted>")}, " +
          s"columns=${c.columns})"
      case j: SourceConfig.Json =>
        s"json(path=${j.path}, schema=${j.schema.isDefined}, " +
          s"where=${j.where.map(_ => "<redacted>")}, columns=${j.columns})"
      case o: SourceConfig.Orc =>
        s"orc(path=${o.path}, where=${o.where.map(_ => "<redacted>")}, " +
          s"columns=${o.columns})"
    }
    def tgt = target match {
      case t: TargetConfig.Parquet =>
        s"parquet(path=${t.path}, mode=${t.mode}, compression=${t.compression}, " +
          s"partitionBy=${t.partitionBy}, sortBy=${t.sortBy}" +
          (if (t.maxRecordsPerFile > 0) s", maxRecordsPerFile=${t.maxRecordsPerFile}" else "") +
          (if (t.globalSortBy.nonEmpty) s", globalSortBy=${t.globalSortBy}" else "") +
          (if (t.statsIndexColumns.nonEmpty) s", statsIndex=${t.statsIndexColumns}" else "") +
          (if (t.versioned) ", versioned" else "") +
          (if (t.zorderBy.nonEmpty) s", zorderBy=${t.zorderBy}" else "") + ")"
      case TargetConfig.DynamoS3Export(p) => s"dynamo-s3-export(path=$p)"
      case t: TargetConfig.TarShards =>
        s"tar-shards(path=${t.path}, key=${t.keyColumn}, payload=${t.payloadColumn}, " +
          s"maxShardBytes=${t.maxShardBytes}, numShards=${t.numShards})"
      case c: TargetConfig.Csv =>
        s"csv(path=${c.path}, mode=${c.mode}, header=${c.header}, delimiter=${c.delimiter})"
      case j: TargetConfig.Json => s"json(path=${j.path}, mode=${j.mode})"
      case o: TargetConfig.Orc =>
        s"orc(path=${o.path}, mode=${o.mode}, compression=${o.compression})"
    }
    s"PipelineConfig(source=$src, target=$tgt, renames=${renames.size}, " +
      s"skipFiles=${skipFiles.size}, validation=${validation.isDefined}, " +
      s"stream=${stream.isDefined}, transforms=${transforms.map(_.name).mkString("[", ",", "]")})"
  }

  /** Eager cross-validation (fail at load, not mid-run). */
  def validate: Either[String, PipelineConfig] = {
    val renameTargets = renames.map(_.to.toLowerCase)
    if (renameTargets.distinct.size != renameTargets.size)
      Left("rename target collision")
    else if (validation.exists(_.primaryKey.isEmpty))
      Left("validation.primaryKey must be non-empty")
    else if (validation.exists(_.tolerance < 0))
      Left("validation.tolerance must be >= 0")
    else if (stream.isDefined && !target.isInstanceOf[TargetConfig.Parquet])
      Left("stream replication requires a parquet target")
    else if (target match {
      case p: TargetConfig.Parquet => p.versioned &&
        (savepointsDir.isDefined || stream.isDefined)
      case _ => false
    })
      Left("target.versioned publishes whole immutable snapshots — " +
        "incompatible with per-batch resume (savepoints) and continuous " +
        "replication (stream); run those against a plain path and publish " +
        "the finished result")
    else if (savepointsDir.isDefined && (source match {
      case s: SourceConfig.Parquet => !s.versioned
      case _ => false
    }) && (target match {
      case p: TargetConfig.Parquet => p.mode.toLowerCase != "append"
      case _ => false
    }))
      Left("savepoints.dir runs per-file-batch APPENDS — set target.mode: " +
        "append (any other mode pretends to clear a target that a resumed " +
        "run must never clear; wipe the directory explicitly for a fresh run)")
    else if (stream.exists(_.primaryKey.isEmpty))
      Left("stream.primaryKey must be non-empty")
    else if (stream.exists(_.orderBy.isEmpty))
      Left("stream.orderBy must be non-empty (last-writer-wins needs an order)")
    else if (stream.isDefined && transforms.nonEmpty)
      Left("transforms apply to batch copies; the stream path replays " +
        "changes verbatim (curate the snapshot, then stream into it)")
    else
      transforms.flatMap(_.check).headOption.toLeft(this)
  }
}

/** Config-driven curation stages, applied in listed order between the
  * source read (+renames) and the target write — the training-data
  * operators (pipeline/Dedup, operators/Sampling) exposed through the
  * same declarative surface as the rest of the pipeline. Each stage is
  * a pure DataFrame -> DataFrame transform; resume and validation wrap
  * the transformed frame exactly as they do a plain copy.
  */
sealed trait TransformConfig {
  def name: String
  /** Eager validation error, if any (fail at load, not mid-run). */
  def check: Option[String]
}
object TransformConfig {
  /** Keep one row per distinct value of `textColumn` (min `idColumn`
    * wins) — Dedup.exactGroups + a self-join to re-attach the row.
    */
  final case class DedupExact(idColumn: String, textColumn: String)
      extends TransformConfig {
    val name = "dedupExact"
    def check: Option[String] = None
  }
  /** Keep at most `k` rows per group, ranked by (md5(textColumn),
    * idColumn) — Sampling.capPerGroup (two-stage salted ranking).
    */
  final case class SourceCap(groupColumns: List[String], idColumn: String,
                             textColumn: String, k: Int)
      extends TransformConfig {
    val name = "sourceCap"
    def check: Option[String] =
      if (k <= 0) Some("transform.sourceCap.k must be positive")
      else if (groupColumns.isEmpty) Some("transform.sourceCap.groupColumns required")
      else None
  }
  /** Canonical text normalization in place — Text.normalize over
    * `textColumn` (control chars, whitespace, case); step 0 before any
    * content-keyed stage.
    */
  final case class Normalize(textColumn: String) extends TransformConfig {
    val name = "normalize"
    def check: Option[String] = None
  }
  /** Cross-document span boilerplate removal — Dedup.spanDedup; the
    * document's text column is REPLACED by the cleaned text (n_spans /
    * n_removed are dropped: config stages compose on the input schema).
    */
  final case class SpanDedup(idColumn: String, textColumn: String,
                             spanTokens: Int, minDocs: Int,
                             keepFirst: Boolean) extends TransformConfig {
    val name = "spanDedup"
    def check: Option[String] =
      if (spanTokens <= 0) Some("transform.spanDedup.spanTokens must be positive")
      else if (minDocs <= 1) Some("transform.spanDedup.minDocs must be > 1")
      else None
  }
  /** Token-gram substring dedup — Dedup.cutDupSpans (the suffix-array-
    * dedup analog): tokens covered by a k-token gram occurring at least
    * `minCount` times corpus-wide are cut out; only documents that
    * actually contain a duplicated span are rewritten, the rest keep
    * their original text byte-for-byte. Schema-preserving.
    */
  final case class DupSpanCut(idColumn: String, textColumn: String,
                              gramTokens: Int, minCount: Long)
      extends TransformConfig {
    val name = "dupSpanCut"
    def check: Option[String] =
      if (gramTokens <= 0) Some("transform.dupSpanCut.gramTokens must be positive")
      else if (minCount <= 1) Some("transform.dupSpanCut.minCount must be > 1")
      else None
  }
  /** Label rows with a named split — Sampling.split (md5-bucket
    * membership; deterministic on any engine/partitioning/retry).
    */
  final case class Split(keyColumn: String, fractions: List[(String, Int)],
                         denom: Int)
      extends TransformConfig {
    val name = "split"
    def check: Option[String] =
      if (denom <= 0) Some("transform.split.denom must be positive")
      else if (fractions.isEmpty) Some("transform.split.fractions required")
      else if (fractions.exists(_._2 < 0) || fractions.map(_._2).sum > denom)
        Some("transform.split.fractions must be non-negative and fit in denom")
      else None
  }
  /** MinHash near-dup removal: shingle -> signature -> LSH candidates
    * -> exact Jaccard verify at `thresholdNum/thresholdDenom` ->
    * cluster -> keep only each cluster's representative (min id). The
    * full Dedup tier-2 path behind one stage.
    */
  final case class MinhashDedup(idColumn: String, textColumn: String,
                                shingleSize: Int, numHashes: Int,
                                bands: Int, rowsPerBand: Int,
                                thresholdNum: Int, thresholdDenom: Int,
                                keepLongest: Boolean = false)
      extends TransformConfig {
    val name = "minhashDedup"
    def check: Option[String] =
      if (shingleSize <= 0) Some("transform.minhashDedup.shingleSize must be positive")
      else if (numHashes != bands * rowsPerBand)
        Some(s"transform.minhashDedup.numHashes ($numHashes) must equal " +
          s"bands*rowsPerBand (${bands * rowsPerBand})")
      else if (thresholdNum <= 0 || thresholdDenom <= 0 || thresholdNum > thresholdDenom)
        Some("transform.minhashDedup threshold must be a fraction in (0, 1]")
      else None
  }
  /** Embedding near-dup removal — Similarity.semanticDedup over
    * `vecColumn` with seed-fixed hyperplanes; rows whose vector
    * cosine-matches an earlier (smaller-id) row at >= threshold drop.
    */
  final case class SemanticDedup(idColumn: String, vecColumn: String,
                                 numPlanes: Int, bandBits: Int,
                                 threshold: Double, seed: Long)
      extends TransformConfig {
    val name = "semanticDedup"
    def check: Option[String] =
      if (numPlanes <= 0) Some("transform.semanticDedup.numPlanes must be positive")
      else if (bandBits <= 0 || numPlanes % bandBits != 0)
        Some("transform.semanticDedup.bandBits must divide numPlanes")
      else if (threshold < -1.0 || threshold > 1.0)
        Some("transform.semanticDedup.threshold must be a cosine in [-1, 1]")
      else None
  }
  /** Eval-set decontamination — Dedup.decontaminate: DROP corpus rows
    * sharing >= `minShared` distinct word `ngram`-grams with the
    * reference corpus at `referencePath` (parquet, same text column
    * semantics).
    */
  final case class Decontaminate(idColumn: String, textColumn: String,
                                 referencePath: String, ngram: Int,
                                 minShared: Long)
      extends TransformConfig {
    val name = "decontaminate"
    def check: Option[String] =
      if (ngram <= 0) Some("transform.decontaminate.ngram must be positive")
      else if (minShared <= 0) Some("transform.decontaminate.minShared must be positive")
      else None
  }
  /** Embedding-space decontamination — Similarity.semanticDecontaminate:
    * drop rows whose int8-code integer dot with any reference embedding
    * (parquet at `referencePath`, same vector column name) reaches
    * `minDot`; schema-preserving, corpus rows never shuffle.
    */
  final case class SemanticDecontaminate(vecColumn: String,
                                         referencePath: String, minDot: Long)
      extends TransformConfig {
    val name = "semanticDecontaminate"
    def check: Option[String] =
      if (minDot <= 0L)
        Some("transform.semanticDecontaminate.minDot must be positive")
      else None
  }
  /** DSIR data selection — Text.dsirFeatures/dsirWeights: score every
    * row's hashed-ngram counts by the ln-ratio of a TARGET corpus
    * (parquet at `targetPath`) over the input corpus, keep the
    * highest-weight keepNum/keepDenom fraction (approx-percentile
    * cutoff — no global sort; boundary ties keep). Schema-preserving;
    * rows with no tokens can't score and drop.
    */
  final case class DsirFilter(idColumn: String, textColumn: String,
                              targetPath: String, targetTextColumn: String,
                              buckets: Int, keepNum: Int, keepDenom: Int)
      extends TransformConfig {
    val name = "dsirFilter"
    def check: Option[String] =
      if (targetPath.isEmpty) Some("transform.dsirFilter.targetPath required")
      else if (buckets <= 0) Some("transform.dsirFilter.buckets must be positive")
      else if (keepDenom <= 0 || keepNum <= 0 || keepNum > keepDenom)
        Some("transform.dsirFilter.keep fraction must satisfy 0 < num <= denom")
      else None
  }
  /** CCNet-style perplexity-bucket filter — Text.pplBuckets(+Approx):
    * score each document against the corpus's own unigram model, split
    * each language into `buckets` commonness bands (1 = head = most
    * typical), keep rows whose bucket is in `keep`. Schema-preserving;
    * zero-token documents drop (they have no LM score). `approx = true`
    * (default) is the 100-TB path — percentile cutoffs instead of a
    * per-language sort.
    */
  final case class PplFilter(idColumn: String, textColumn: String,
                             langColumn: String, buckets: Int,
                             keep: List[Long], approx: Boolean)
      extends TransformConfig {
    val name = "pplFilter"
    def check: Option[String] =
      if (buckets <= 0) Some("transform.pplFilter.buckets must be positive")
      else if (keep.isEmpty) Some("transform.pplFilter.keep required")
      else if (keep.exists(b => b < 1 || b > buckets))
        Some(s"transform.pplFilter.keep values must be in 1..$buckets")
      else None
  }
  /** PII scrub — Text.redactPii: emails and long digit runs replaced
    * with typed placeholder tokens in `textColumn`; stateless and
    * schema-preserving (runs on streams unchanged).
    */
  final case class PiiScrub(textColumn: String) extends TransformConfig {
    val name = "piiScrub"
    def check: Option[String] = None
  }
  /** Per-group token-budget sampler — Sampling.tokenBudget: keep rows
    * in md5(key) priority order while each group's cumulative token
    * count stays within budget; range-sharded cumsum plan, nested
    * samples across budgets, schema-preserving.
    */
  final case class TokenBudget(groupColumn: String, keyColumn: String,
                               tokenColumn: String, budget: Long, shards: Int)
      extends TransformConfig {
    val name = "tokenBudget"
    def check: Option[String] =
      if (budget <= 0) Some("transform.tokenBudget.budget must be positive")
      else if (shards <= 0 || (shards & (shards - 1)) != 0)
        Some("transform.tokenBudget.shards must be a power of two")
      else None
  }
  /** Incremental cross-snapshot dedup — Dedup.newAgainst: drop rows
    * whose content digest already appears in the reference corpus (the
    * prior shard), then exact-dedup the survivors in-batch (min-id
    * keeper). `referenceTextColumn` defaults to `textColumn`.
    */
  final case class IncrDedup(idColumn: String, textColumn: String,
                             referencePath: String, referenceTextColumn: String)
      extends TransformConfig {
    val name = "incrDedup"
    def check: Option[String] = None
  }
  /** Target-mixture rebalance — Sampling.mixToTarget: keep the largest
    * corpus whose `groupColumn` proportions match `weights`/`wDenom`
    * (integer quota math, md5-mod membership); groups without a listed
    * weight are dropped from the mix.
    */
  final case class MixToTarget(keyColumn: String, groupColumn: String,
                               weights: List[(String, Int)], wDenom: Int)
      extends TransformConfig {
    val name = "mixToTarget"
    def check: Option[String] =
      if (wDenom <= 0) Some("transform.mixToTarget.wDenom must be positive")
      else if (weights.isEmpty) Some("transform.mixToTarget.weights required")
      else if (weights.map(_._1).distinct.size != weights.size)
        Some("transform.mixToTarget.weights has a duplicate group")
      else if (weights.exists(_._2 < 0) || weights.map(_._2).sum > wDenom)
        Some("transform.mixToTarget.weights must be non-negative and sum to <= wDenom")
      else if (!weights.exists(_._2 > 0))
        Some("transform.mixToTarget.weights need at least one positive entry")
      else None
  }
  /** Group-relative outlier drop — Moments.flagOutliers: remove rows
    * whose integer `valueColumn` deviates more than `z` population
    * standard deviations from its group mean (exact integer moments,
    * retry/engine-invariant flag).
    */
  final case class OutlierFilter(valueColumn: String, groupColumn: String,
                                 z: Double)
      extends TransformConfig {
    val name = "outlierFilter"
    def check: Option[String] =
      if (z <= 0) Some("transform.outlierFilter.z must be positive")
      else None
  }
  /** Linear quality-classifier row filter — Text.qualityFilter: keep
    * rows whose integer per-mille quality score (stopword/punct/digit
    * density, avg token length under integer weights) clears
    * `minScore`; schema-preserving, scan-side, engine-exact.
    */
  final case class QualityFilter(textColumn: String, minScore: Long,
                                 bias: Long, wStop: Long, wPunct: Long,
                                 wDigit: Long, wTokLen: Long)
      extends TransformConfig {
    val name = "qualityFilter"
    def check: Option[String] = None // any integer weights are a valid model
  }
  /** Gopher rule-set row filter — Text.gopherFilter: keep rows passing
    * every Gopher document-quality rule (word count, mean word length,
    * alphabetic-word %, symbol %, stopword hits, top-token %);
    * schema-preserving, scan-side, integer-exact.
    */
  final case class GopherFilter(textColumn: String, minWords: Long,
                                maxWords: Long, minMeanLen: Long,
                                maxMeanLen: Long, minAlphaPct: Long,
                                maxSymbolPct: Long, minStopHits: Long,
                                maxTopTokenPct: Long)
      extends TransformConfig {
    val name = "gopherFilter"
    def check: Option[String] =
      if (minWords < 0 || maxWords < minWords)
        Some("transform.gopherFilter: need 0 <= minWords <= maxWords")
      else if (minMeanLen < 0 || maxMeanLen < minMeanLen)
        Some("transform.gopherFilter: need 0 <= minMeanLen <= maxMeanLen")
      else None
  }
  /** Gopher repetition-ceiling row filter — Text.repetitionFilter:
    * keep rows whose top-n-gram / duplicated-n-gram character coverage
    * stays under the per-n percentage ceilings. `topPcts` are the
    * ceilings for n = 2, 3, … (most-frequent-gram chars); `dupPcts`
    * for n = 5, 6, … (chars covered by any gram occurring twice);
    * schema-preserving, scan-side, integer-exact.
    */
  final case class RepetitionFilter(textColumn: String, topPcts: List[Long],
                                    dupPcts: List[Long])
      extends TransformConfig {
    val name = "repetitionFilter"
    def check: Option[String] =
      if (topPcts.isEmpty && dupPcts.isEmpty)
        Some("transform.repetitionFilter: need at least one ceiling")
      else if ((topPcts ++ dupPcts).exists(_ < 0L))
        Some("transform.repetitionFilter: ceilings must be >= 0")
      else None
  }
  /** Wordlist row filter — Text.blocklistFilter: drop rows containing
    * more than `maxTerms` distinct blocklist terms (C4-style bad-words
    * stage; token-boundary, case-folded, phrases supported).
    * `termsPath` is a text file, one term per line — wordlists are
    * bounded, so the stage reads it once and filters scan-side.
    */
  final case class BlocklistFilter(textColumn: String, termsPath: String,
                                   maxTerms: Long)
      extends TransformConfig {
    val name = "blocklist"
    def check: Option[String] =
      if (termsPath.isEmpty) Some("transform.blocklist.termsPath required")
      else if (maxTerms < 0) Some("transform.blocklist.maxTerms must be >= 0")
      else None
  }
  /** Gap-based sessionization — Sessionize.sessionize: adds a
    * `session_seq` column (1-based session index per key); schema-
    * EXTENDING. `gap` is a SQL interval body ("30 minutes"); `tieBreak`
    * columns disambiguate equal timestamps.
    */
  final case class SessionizeStage(keys: List[String], tsColumn: String,
                                   gap: String, tieBreak: List[String])
      extends TransformConfig {
    val name = "sessionize"
    def check: Option[String] =
      if (keys.isEmpty) Some("transform.sessionize.keys required")
      else if (gap.isEmpty) Some("transform.sessionize.gap required")
      else None
  }
  /** Funnel conversion curve — Funnel.stepCounts: TERMINAL reshape;
    * output is one row per step `(step, step_type, n_reached)`, not the
    * input schema — place last (it is a whole-corpus summary).
    */
  final case class FunnelStage(keyColumn: String, tsColumn: String,
                               typeColumn: String, steps: List[String])
      extends TransformConfig {
    val name = "funnel"
    def check: Option[String] =
      if (steps.isEmpty) Some("transform.funnel.steps required")
      else if (steps.distinct.size != steps.size)
        Some("transform.funnel.steps has a duplicate step")
      else None
  }
  /** Cohort retention — Retention.cohortRetention: TERMINAL reshape to
    * `(cohort_bucket, bucket_offset, n_active, cohort_size)` rows.
    */
  final case class RetentionStage(keyColumn: String, tsColumn: String,
                                  bucketDays: Int)
      extends TransformConfig {
    val name = "retention"
    def check: Option[String] =
      if (bucketDays < 1) Some("transform.retention.bucketDays must be >= 1")
      else None
  }
  /** SCD2 history build — Scd2.buildHistory over an upsert/delete log:
    * TERMINAL reshape to versioned rows `(key, values..., valid_from,
    * valid_to, is_current)` — the stage that turns a CDC log into a
    * queryable dimension history (write it, then `pitEnrich` against it).
    */
  final case class Scd2HistoryStage(keyColumn: String, tsColumn: String,
                                    opColumn: String, upsertOp: String,
                                    deleteOp: String, valueColumns: List[String],
                                    tieBreak: List[String])
      extends TransformConfig {
    val name = "scd2History"
    def check: Option[String] =
      if (valueColumns.isEmpty) Some("transform.scd2History.valueColumns required")
      else if (upsertOp == deleteOp)
        Some("transform.scd2History upsertOp and deleteOp must differ")
      else None
  }
  /** Point-in-time enrichment — Scd2.pointInTime: the piped frame is the
    * FACT table; `historyPath` holds a persisted `scd2History` output
    * (parquet). Schema-EXTENDING: adds `pit_<value>` columns, NULL when
    * the key's version had expired (deleted) before the fact — the
    * leakage-safe feature-store join.
    */
  final case class PitEnrichStage(historyPath: String, keyColumn: String,
                                  tsColumn: String, valueColumns: List[String])
      extends TransformConfig {
    val name = "pitEnrich"
    def check: Option[String] =
      if (historyPath.isEmpty) Some("transform.pitEnrich.historyPath required")
      else if (valueColumns.isEmpty) Some("transform.pitEnrich.valueColumns required")
      else None
  }
  /** Snapshot merge — Merge.merge with the piped frame as SOURCE and the
    * parquet at `snapshotPath` as TARGET: matched keys take the source
    * row (update), unmatched source keys insert, and target-only keys
    * are deleted when `deleteStale` (full snapshot sync) or kept (pure
    * upsert). Output is the NEW snapshot frame (target schema) — write
    * it to the next snapshot path, never in place over `snapshotPath`
    * (the plan reads it lazily). Source must be unique per key.
    */
  final case class MergeSnapshotStage(snapshotPath: String, keys: List[String],
                                      deleteStale: Boolean)
      extends TransformConfig {
    val name = "mergeSnapshot"
    def check: Option[String] =
      if (snapshotPath.isEmpty) Some("transform.mergeSnapshot.snapshotPath required")
      else if (keys.isEmpty) Some("transform.mergeSnapshot.keys required")
      else None
  }
  /** Perceptual media dedup — Multimodal.perceptualHashes (decoder
    * resolved from the MediaDecoders registry at RUN time, driver-side)
    * + phashNearDup banded join + min-id representative per near-dup
    * cluster: rows whose payload hashes within `maxDist` of an
    * earlier-id row drop. Schema-preserving (survivors keep all
    * columns).
    */
  final case class PhashDedupStage(idColumn: String, payloadColumn: String,
                                   decoder: String, maxDist: Int,
                                   lenient: Boolean = false)
      extends TransformConfig {
    val name = "phashDedup"
    def check: Option[String] =
      if (decoder.isEmpty) Some("transform.phashDedup.decoder required")
      else if (maxDist < 0 || maxDist > 15)
        Some("transform.phashDedup.maxDist must be in [0, 15]")
      else None
  }
  /** Incremental SCD2 absorption — Scd2.appendToHistory with the piped
    * frame as the NEW ops and the parquet at `historyPath` as the
    * existing history: TERMINAL reshape to the history layout. Write
    * the output to the NEXT history path (never in place over
    * `historyPath` — the plan reads it lazily), exactly like
    * `mergeSnapshot`.
    */
  final case class Scd2AppendStage(historyPath: String, keyColumn: String,
                                   tsColumn: String, opColumn: String,
                                   upsertOp: String, deleteOp: String,
                                   valueColumns: List[String], tieBreak: List[String])
      extends TransformConfig {
    val name = "scd2Append"
    def check: Option[String] =
      if (historyPath.isEmpty) Some("transform.scd2Append.historyPath required")
      else if (valueColumns.isEmpty) Some("transform.scd2Append.valueColumns required")
      else if (upsertOp == deleteOp)
        Some("transform.scd2Append upsertOp and deleteOp must differ")
      else None
  }
  /** Data-quality gate — validation.Constraints over the piped frame:
    * the ONE EAGER stage (it runs the constraint aggregates when the
    * pipeline reaches it — a gate that doesn't look is not a gate) and
    * schema-PRESERVING: on success the frame passes through untouched,
    * on any violation the pipeline fails listing every failing
    * constraint with its violation count. Scalar constraints cost one
    * aggregation pass; uniqueKey one hash aggregate; the optional FK
    * one anti-join against `fkRefPath` parquet. Place it before the
    * target write (gate, then publish).
    */
  final case class ConstraintGateStage(notNull: List[String], uniqueKey: List[String],
                                       minRows: Long, maxRows: Long,
                                       fkColumn: String, fkRefPath: String,
                                       fkRefColumn: String)
      extends TransformConfig {
    val name = "constraintGate"
    def check: Option[String] = {
      val fk = Seq(fkColumn, fkRefPath, fkRefColumn)
      if (notNull.isEmpty && uniqueKey.isEmpty && minRows <= 0 &&
          maxRows == Long.MaxValue && fk.forall(_.isEmpty))
        Some("transform.constraintGate declares no constraint")
      else if (fk.exists(_.nonEmpty) && fk.exists(_.isEmpty))
        Some("transform.constraintGate fkColumn/fkRefPath/fkRefColumn are all-or-none")
      else if (minRows < 0 || maxRows < minRows)
        Some("transform.constraintGate needs 0 <= minRows <= maxRows")
      else None
    }
  }
  /** Greedy sequence packing — Packing.packGreedy over token counts
    * derived from `textColumn`. TERMINAL reshape: unlike the other
    * stages the OUTPUT schema is the packed-sequence layout
    * (idColumn, seq_id, seq_pos, tok_used), not the input schema —
    * place it last (or before a `split` keyed on seq_id).
    */
  final case class SeqPack(idColumn: String, textColumn: String,
                           budget: Long, shardWidth: Long)
      extends TransformConfig {
    val name = "seqPack"
    def check: Option[String] =
      if (budget <= 0) Some("transform.seqPack.budget must be positive")
      else if (shardWidth <= 0) Some("transform.seqPack.shardWidth must be positive")
      else None
  }
  /** Outlier winsorization — operators.Winsorize over the piped frame:
    * clip `valueColumn` to its group's [pct, 100−pct] bounds into
    * `outColumn`. Schema-EXTENDING. `tier: exact` is the one-window
    * exact-rank clip (per-group sort — honest but heavy on huge
    * groups); `tier: approx` takes KLL-sketch bounds (map-side sketch
    * merge, no sort — the 100-TB route for heavy groups).
    */
  final case class WinsorizeStage(groupColumns: List[String], valueColumn: String,
                                  pct: Int, outColumn: String, tier: String)
      extends TransformConfig {
    val name = "winsorize"
    def check: Option[String] =
      if (groupColumns.isEmpty) Some("transform.winsorize.groupColumns required")
      else if (pct < 1 || pct > 49) Some("transform.winsorize.pct must be in [1, 49]")
      else if (outColumn.isEmpty) Some("transform.winsorize.outColumn required")
      else if (tier != "exact" && tier != "approx")
        Some("transform.winsorize.tier must be exact or approx")
      else None
  }
  /** Incremental near-dup curation against a persisted NearDupStore —
    * Dedup.NearDupStore.dropNearDups: drop batch rows whose exact
    * unigram Jaccard against the stored corpus reaches
    * thresholdNum/thresholdDenom; `advance: true` appends survivors so
    * the next batch dedups against this one. Schema-preserving.
    */
  final case class LshDedupStage(indexPath: String, idColumn: String,
                                 textColumn: String, thresholdNum: Int,
                                 thresholdDenom: Int, minBands: Int,
                                 minMatchingHashes: Int, advance: Boolean,
                                 maxPruneKeys: Int = 2000000,
                                 minPruneBytes: Long = 0L)
      extends TransformConfig {
    val name = "lshDedup"
    def check: Option[String] =
      if (indexPath.isEmpty) Some("transform.lshDedup.indexPath required")
      else if (idColumn.isEmpty) Some("transform.lshDedup.idColumn required")
      else if (textColumn.isEmpty) Some("transform.lshDedup.textColumn required")
      else if (thresholdNum < 1 || thresholdDenom < 1 || thresholdNum > thresholdDenom)
        Some("transform.lshDedup threshold must satisfy 1 <= num <= denom")
      else if (minBands < 1) Some("transform.lshDedup.minBands must be >= 1")
      else if (maxPruneKeys < 1) Some("transform.lshDedup.maxPruneKeys must be >= 1")
      else if (minPruneBytes < 0) Some("transform.lshDedup.minPruneBytes must be >= 0")
      else None
  }
  /** ANN top-k search against a PERSISTED vector index
    * (pipeline.AnnIndex): the piped rows are the queries; the output
    * is (query id, rank, neighbor_id, adc_dist) — k rows per query.
    * Terminal reshape. The index is the durable artifact an ingest
    * (StreamingAnn / AnnIndex.appendEpoch) maintains; this stage is
    * its read face on the declarative surface. Search scans codes in
    * probed buckets only (bucket-clustered row-group skipping) —
    * never the vectors.
    */
  final case class AnnSearchStage(indexRoot: String, idColumn: String,
                                  vecColumn: String, k: Int, nProbe: Int,
                                  versioned: Boolean = false,
                                  filterPath: Option[String] = None,
                                  filterColumn: Option[String] = None,
                                  rerankPath: Option[String] = None,
                                  rerankKCand: Option[Int] = None)
      extends TransformConfig {
    val name = "annSearch"
    def check: Option[String] =
      if (indexRoot.isEmpty) Some("transform.annSearch.indexRoot required")
      else if (idColumn.isEmpty) Some("transform.annSearch.idColumn required")
      else if (vecColumn.isEmpty) Some("transform.annSearch.vecColumn required")
      else if (k < 1) Some("transform.annSearch.k must be >= 1")
      else if (nProbe < 1) Some("transform.annSearch.nProbe must be >= 1")
      else if (filterPath.isDefined != filterColumn.isDefined)
        Some("transform.annSearch.filterPath and filterColumn go together")
      else if (rerankPath.isDefined != rerankKCand.isDefined)
        Some("transform.annSearch.rerankPath and rerankKCand go together")
      else if (rerankKCand.exists(_ < k))
        Some("transform.annSearch.rerankKCand must be >= k")
      else if (rerankPath.isDefined && filterPath.isDefined)
        Some("transform.annSearch rerank and filter cannot combine (yet): " +
          "restrict the corpus at rerankPath instead")
      else None
  }
  /** Exactly-once vector ingest into a persisted AnnIndex as a
    * pipeline side effect: the piped rows (typically curated
    * survivors carrying an embedding column) appendEpoch into the
    * index under `tag` and flow on UNCHANGED — the curate-then-index
    * loop as one config. Re-running the same config (same tag) is
    * retire-and-redo: end-state idempotent, never double-inserted.
    */
  final case class AnnIngestStage(indexRoot: String, idColumn: String,
                                  vecColumn: String, tag: String)
      extends TransformConfig {
    val name = "annIngest"
    def check: Option[String] =
      if (indexRoot.isEmpty) Some("transform.annIngest.indexRoot required")
      else if (idColumn.isEmpty) Some("transform.annIngest.idColumn required")
      else if (vecColumn.isEmpty) Some("transform.annIngest.vecColumn required")
      else if (tag.isEmpty) Some("transform.annIngest.tag required")
      else None
  }
  /** Right-to-be-forgotten as a pipeline event: the piped rows ARE the
    * RTBF batch — their `idColumn` values are purged from the named
    * persisted store (annIndex / lexIndex / nearDupStore crash-safe
    * targeted rewrite, the CLI `forget` arms' exact semantics) and the
    * rows flow on UNCHANGED, so the same config can write the batch to
    * an audit target. Passthrough side effect, eager at stage
    * application; same between-epochs caveat as every store rewrite.
    */
  final case class ForgetStage(store: String, root: String, idColumn: String)
      extends TransformConfig {
    val name = "forget"
    def check: Option[String] =
      if (!ForgetStage.Stores(store))
        Some(s"transform.forget.store must be one of ${ForgetStage.Stores.mkString("|")}")
      else if (root.isEmpty) Some("transform.forget.root required")
      else if (idColumn.isEmpty) Some("transform.forget.idColumn required")
      else None
  }
  object ForgetStage {
    val Stores: Set[String] = Set("annIndex", "lexIndex", "nearDupStore", "linkGraph")
    /** RTBF batches are bounded by nature (requests, not corpora); the
      * cap bounds the stage's driver-side key collect explicitly.
      */
    val MaxIds = 1000000
  }
  /** RFM customer scoring — operators.Rfm.scores: reduce the piped
    * event log to one row per key with recency/frequency/monetary and
    * their ntile scores as of `asOf` (an ISO date). Terminal reshape
    * (output is the |keys|-row scoring table).
    */
  final case class RfmStage(keyColumn: String, tsColumn: String,
                            valueColumn: String, asOf: String, buckets: Int)
      extends TransformConfig {
    val name = "rfm"
    def check: Option[String] =
      if (keyColumn.isEmpty) Some("transform.rfm.keyColumn required")
      else if (tsColumn.isEmpty) Some("transform.rfm.tsColumn required")
      else if (valueColumn.isEmpty) Some("transform.rfm.valueColumn required")
      else if (!asOf.matches("\\d{4}-\\d{2}-\\d{2}"))
        Some("transform.rfm.asOf must be an ISO date (yyyy-MM-dd)")
      else if (buckets < 2) Some("transform.rfm.buckets must be >= 2")
      else None
  }
  /** Journey transition matrix — operators.Journeys.transitionMatrix:
    * (from_type, to_type, n_transitions) counts over each key's
    * timeline; NULL from_type rows are the entry distribution.
    * Terminal reshape (|types|²-row matrix).
    */
  final case class TransitionMatrixStage(keyColumn: String, tsColumn: String,
                                         typeColumn: String,
                                         tieBreak: List[String])
      extends TransformConfig {
    val name = "transitionMatrix"
    def check: Option[String] =
      if (keyColumn.isEmpty) Some("transform.transitionMatrix.keyColumn required")
      else if (tsColumn.isEmpty) Some("transform.transitionMatrix.tsColumn required")
      else if (typeColumn.isEmpty) Some("transform.transitionMatrix.typeColumn required")
      else None
  }
  /** Multi-touch attribution — operators.Journeys.attribution:
    * first/last/linear credit per touch type over journeys that reach
    * `conversionType`. Terminal reshape (one row per touch type).
    */
  final case class AttributionStage(keyColumn: String, tsColumn: String,
                                    typeColumn: String, conversionType: String,
                                    touchTypes: List[String],
                                    tieBreak: List[String])
      extends TransformConfig {
    val name = "attribution"
    def check: Option[String] =
      if (keyColumn.isEmpty) Some("transform.attribution.keyColumn required")
      else if (tsColumn.isEmpty) Some("transform.attribution.tsColumn required")
      else if (typeColumn.isEmpty) Some("transform.attribution.typeColumn required")
      else if (conversionType.isEmpty) Some("transform.attribution.conversionType required")
      else if (touchTypes.isEmpty) Some("transform.attribution.touchTypes required")
      else if (touchTypes.contains(conversionType))
        Some("transform.attribution.conversionType cannot also be a touch type")
      else None
  }
  /** Rolling z-score anomaly screen — operators.Anomaly.rollingZFlags:
    * flag rows whose `valueColumn` sits more than `z` trailing standard
    * deviations from the previous `window` points of their key group
    * (ordered by `orderColumns`), decided in exact integer
    * cross-multiplication so any engine reproduces the flags bit-for-
    * bit. Schema-EXTENDING (`n_base`, `flagged`). `maxAbsValue` bounds
    * |value| and is part of the 64-bit overflow contract — the stage
    * refuses combinations that could wrap.
    */
  final case class AnomalyStage(keyColumns: List[String], orderColumns: List[String],
                                valueColumn: String, window: Int, minPoints: Int,
                                z: Int, maxAbsValue: Long)
      extends TransformConfig {
    val name = "anomaly"
    def check: Option[String] =
      if (keyColumns.isEmpty) Some("transform.anomaly.keyColumns required")
      else if (orderColumns.isEmpty) Some("transform.anomaly.orderColumns required")
      else if (valueColumn.isEmpty) Some("transform.anomaly.valueColumn required")
      else if (window < 2 || minPoints < 2 || minPoints > window)
        Some("transform.anomaly needs 2 <= minPoints <= window")
      else if (z < 1) Some("transform.anomaly.z must be >= 1")
      else if (maxAbsValue <= 0) Some("transform.anomaly.maxAbsValue must be positive")
      else None
  }
  /** Deterministic importance resampling — Sampling.resampleByWeight:
    * keep each row at its OWN integer rate (`rateColumn`, parts per
    * `denom`) over the shared md5 bucket space — the post-scoring
    * thinning step of a DSIR pipeline, reproducible and composable
    * with `split`. Schema-preserving (surviving rows keep all columns).
    */
  final case class ResampleStage(keyColumn: String, rateColumn: String,
                                 denom: Int)
      extends TransformConfig {
    val name = "resampleByWeight"
    def check: Option[String] =
      if (keyColumn.isEmpty) Some("transform.resampleByWeight.keyColumn required")
      else if (rateColumn.isEmpty) Some("transform.resampleByWeight.rateColumn required")
      else if (denom <= 0) Some("transform.resampleByWeight.denom must be positive")
      else None
  }
  /** Banded interval-overlap join — operators.IntervalJoin with the
    * piped frame as LEFT and the parquet at `rightPath` as RIGHT.
    * Schema-EXTENDING join output (both sides' columns +
    * overlap_lo/overlap_hi); column names must not collide — alias
    * via renames first. `bandWidth: 0` (the default) probes the span
    * distribution and picks the width automatically (median × slack),
    * aborting with clamp advice if an open-ended interval would
    * explode the banding; a positive value pins it.
    */
  final case class IntervalJoinStage(rightPath: String,
                                     leftLo: String, leftHi: String,
                                     rightLo: String, rightHi: String,
                                     keys: List[(String, String)],
                                     bandWidth: Double)
      extends TransformConfig {
    val name = "intervalJoin"
    def check: Option[String] =
      if (rightPath.isEmpty) Some("transform.intervalJoin.rightPath required")
      else if (Seq(leftLo, leftHi, rightLo, rightHi).exists(_.isEmpty))
        Some("transform.intervalJoin left/right lo/hi columns required")
      else if (bandWidth < 0) Some("transform.intervalJoin.bandWidth must be >= 0 (0 = auto)")
      else None
  }
  /** Connected components — operators.Graphs.connectedComponents over
    * the piped EDGE frame (`srcColumn`, `dstColumn`); the node set is
    * the distinct endpoints. TERMINAL reshape: output is `(id, rep)`
    * with rep = each component's minimum id.
    */
  final case class ComponentsStage(srcColumn: String, dstColumn: String,
                                   maxIters: Int)
      extends TransformConfig {
    val name = "components"
    def check: Option[String] =
      if (srcColumn.isEmpty || dstColumn.isEmpty)
        Some("transform.components.srcColumn/dstColumn required")
      else if (maxIters < 1 || maxIters > 30)
        Some("transform.components.maxIters must be in [1, 30]")
      else None
  }
  /** Per-vertex triangle counts — operators.Graphs.triangleCounts over
    * the piped edge frame. TERMINAL reshape: `(vertex, n_triangles)`,
    * degree-oriented so hub vertices cannot explode the wedge join.
    */
  final case class TrianglesStage(srcColumn: String, dstColumn: String)
      extends TransformConfig {
    val name = "triangles"
    def check: Option[String] =
      if (srcColumn.isEmpty || dstColumn.isEmpty)
        Some("transform.triangles.srcColumn/dstColumn required")
      else None
  }
  /** Bounded multi-source BFS — operators.Graphs.reachable over the
    * piped edge frame, roots read from `rootsPath` parquet
    * (`rootColumn`). TERMINAL reshape: `(root, vertex, depth)` with
    * depth = minimum hop count ≤ `maxDepth`.
    */
  final case class ReachableStage(srcColumn: String, dstColumn: String,
                                  rootsPath: String, rootColumn: String,
                                  maxDepth: Int)
      extends TransformConfig {
    val name = "reachable"
    def check: Option[String] =
      if (srcColumn.isEmpty || dstColumn.isEmpty)
        Some("transform.reachable.srcColumn/dstColumn required")
      else if (rootsPath.isEmpty) Some("transform.reachable.rootsPath required")
      else if (rootColumn.isEmpty) Some("transform.reachable.rootColumn required")
      else if (maxDepth < 0 || maxDepth > 30)
        Some("transform.reachable.maxDepth must be in [0, 30]")
      else None
  }
  /** Bitemporal snapshot — operators.Scd2.bitemporalSnapshot over the
    * piped bitemporal log: state as it was VALID at `validAt`, as
    * ASSERTED by `txAt` (late corrections included up to txAt only).
    * TERMINAL reshape to `(key, valid_ts, asserted_ts, values…)`.
    * `validAt`/`txAt` are literals cast to the respective ts columns'
    * types at run time.
    */
  final case class BitemporalStage(keyColumn: String, validTsColumn: String,
                                   txTsColumn: String, opColumn: String,
                                   upsertOp: String, deleteOp: String,
                                   valueColumns: List[String],
                                   validAt: String, txAt: String,
                                   tieBreak: List[String])
      extends TransformConfig {
    val name = "bitemporal"
    def check: Option[String] =
      if (valueColumns.isEmpty) Some("transform.bitemporal.valueColumns required")
      else if (upsertOp == deleteOp)
        Some("transform.bitemporal upsertOp and deleteOp must differ")
      else if (validAt.isEmpty || txAt.isEmpty)
        Some("transform.bitemporal.validAt/txAt required")
      else None
  }
  /** Link extraction — Web.extractLinks: one row per quoted href of
    * the page's anchor elements, appended as `hrefColumn` (row
    * multiplying: a page with n links becomes n rows; pages with none
    * drop). Chain urlCanon on the href column for canon/host/domain,
    * then pageRank/sourceCap — the crawl→graph path as config.
    */
  final case class LinkExtract(htmlColumn: String, hrefColumn: String)
      extends TransformConfig {
    val name = "linkExtract"
    def check: Option[String] =
      if (htmlColumn.isEmpty) Some("transform.linkExtract.htmlColumn required")
      else if (hrefColumn.isEmpty) Some("transform.linkExtract.hrefColumn required")
      else if (htmlColumn == hrefColumn)
        Some("transform.linkExtract.hrefColumn must differ from htmlColumn")
      else None
  }
  /** Persisted lexical-index top-k — LexIndex.search with the piped
    * rows as the bounded query batch; terminal reshape to the hit
    * list, the annSearch pattern on the lexical side.
    */
  final case class LexSearchStage(indexRoot: String, queryIdColumn: String,
                                  termColumn: String, k: Int)
      extends TransformConfig {
    val name = "lexSearch"
    def check: Option[String] =
      if (indexRoot.isEmpty) Some("transform.lexSearch.indexRoot required")
      else if (queryIdColumn.isEmpty) Some("transform.lexSearch.queryIdColumn required")
      else if (termColumn.isEmpty) Some("transform.lexSearch.termColumn required")
      else if (k < 1) Some("transform.lexSearch.k must be >= 1")
      else None
  }
  /** Hybrid-retrieval fusion — Retrieval.rrfFuse of the piped ranking
    * (tier A: e.g. a lexSearch stage's hit list) with the ranking
    * parquet at `otherPath` (tier B: e.g. a persisted annSearch dump);
    * terminal reshape to the fused per-query top-k.
    */
  final case class RrfFuseStage(otherPath: String, queryIdColumn: String,
                                idColumn: String, rankColumn: String,
                                k: Int, kRrf: Int)
      extends TransformConfig {
    val name = "rrfFuse"
    def check: Option[String] =
      if (otherPath.isEmpty) Some("transform.rrfFuse.otherPath required")
      else if (queryIdColumn.isEmpty) Some("transform.rrfFuse.queryIdColumn required")
      else if (idColumn.isEmpty) Some("transform.rrfFuse.idColumn required")
      else if (rankColumn.isEmpty) Some("transform.rrfFuse.rankColumn required")
      else if (k < 1) Some("transform.rrfFuse.k must be >= 1")
      else if (kRrf < 0) Some("transform.rrfFuse.kRrf must be >= 0")
      else None
  }
  /** Crawl-epoch absorption into a persisted LinkGraph store — the
    * piped rows are the epoch's edges, absorbed under `tag` through
    * the store's frontier-bounded exact rank maintenance
    * (retire-and-redo on replay, the forget-stage idempotence
    * discipline); terminal reshape to the store's served final ranks.
    */
  final case class GraphEpochStage(root: String, srcColumn: String,
                                   dstColumn: String, tag: String)
      extends TransformConfig {
    val name = "graphEpoch"
    def check: Option[String] =
      if (root.isEmpty) Some("transform.graphEpoch.root required")
      else if (srcColumn.isEmpty || dstColumn.isEmpty)
        Some("transform.graphEpoch.srcColumn/dstColumn required")
      else if (tag.isEmpty) Some("transform.graphEpoch.tag required")
      else None
  }
  /** Integer-exact PageRank — Graphs.pageRank over the piped edge
    * frame; terminal reshape to (id, rank_units) like components.
    */
  final case class PageRankStage(srcColumn: String, dstColumn: String,
                                 iters: Int, dampingPct: Int,
                                 dangling: Boolean = false,
                                 seedsPath: String = "",
                                 seedColumn: String = "id")
      extends TransformConfig {
    val name = "pageRank"
    def check: Option[String] =
      if (srcColumn.isEmpty || dstColumn.isEmpty)
        Some("transform.pageRank.srcColumn/dstColumn required")
      else if (iters < 1 || iters > 30)
        Some("transform.pageRank.iters must be in [1, 30]")
      else if (dampingPct < 1 || dampingPct > 99)
        Some("transform.pageRank.dampingPct must be in [1, 99]")
      else if (seedsPath.nonEmpty && dangling)
        Some("transform.pageRank.seedsPath (TrustRank) and dangling " +
          "cannot combine: the dangling term redistributes uniformly, " +
          "the personalized teleport by definition does not")
      else None
  }
  /** Integer-exact HITS — Graphs.hits over the piped edge frame;
    * terminal reshape to (id, auth_units, hub_units).
    */
  final case class HitsStage(srcColumn: String, dstColumn: String,
                             iters: Int)
      extends TransformConfig {
    val name = "hits"
    def check: Option[String] =
      if (srcColumn.isEmpty || dstColumn.isEmpty)
        Some("transform.hits.srcColumn/dstColumn required")
      else if (iters < 1 || iters > 30)
        Some("transform.hits.iters must be in [1, 30]")
      else None
  }
  /** MMR diversity re-rank — Retrieval.mmrRerank over the piped
    * candidate ranking (which must carry relevance + vector columns);
    * terminal reshape to (queryId, rank, id, mmr_score).
    */
  final case class MmrStage(queryIdColumn: String, idColumn: String,
                            scoreColumn: String, vecColumn: String,
                            k: Int, lambdaPct: Int)
      extends TransformConfig {
    val name = "mmrRerank"
    def check: Option[String] =
      if (queryIdColumn.isEmpty) Some("transform.mmrRerank.queryIdColumn required")
      else if (idColumn.isEmpty) Some("transform.mmrRerank.idColumn required")
      else if (scoreColumn.isEmpty) Some("transform.mmrRerank.scoreColumn required")
      else if (vecColumn.isEmpty) Some("transform.mmrRerank.vecColumn required")
      else if (k < 1) Some("transform.mmrRerank.k must be >= 1")
      else if (lambdaPct < 0 || lambdaPct > 100)
        Some("transform.mmrRerank.lambdaPct must be in [0, 100]")
      else None
  }
  /** Ranking-quality evaluation — Retrieval.evalRanking of the piped
    * ranking against the judgment parquet at `truthPath`; terminal
    * reshape to per-query (n_rel, n_hits, recall, mrr, ap, ndcg).
    */
  final case class EvalRankingStage(truthPath: String, queryIdColumn: String,
                                    idColumn: String, rankColumn: String,
                                    k: Int, relColumn: Option[String])
      extends TransformConfig {
    val name = "evalRanking"
    def check: Option[String] =
      if (truthPath.isEmpty) Some("transform.evalRanking.truthPath required")
      else if (queryIdColumn.isEmpty)
        Some("transform.evalRanking.queryIdColumn required")
      else if (idColumn.isEmpty) Some("transform.evalRanking.idColumn required")
      else if (rankColumn.isEmpty) Some("transform.evalRanking.rankColumn required")
      else if (k < 1) Some("transform.evalRanking.k must be >= 1")
      else None
  }
  /** In-place markup extraction — Web.stripMarkup replaces
    * `textColumn` with the extracted plain text (boilerplate stays;
    * chain a lineDedup stage to remove it).
    */
  final case class HtmlExtract(textColumn: String) extends TransformConfig {
    val name = "htmlExtract"
    def check: Option[String] = None
  }
  /** In-place URL canonicalization — Web.canonicalizeUrl replaces
    * `urlColumn`; optional `hostColumn`/`domainColumn` ADD the derived
    * host / registered-domain columns (group keys for host caps).
    * `trackedParams` (comma-separated regex fragments) overrides the
    * default tracking-parameter set — e.g. add `ref` back for corpora
    * where it is known to be tracking, not content.
    */
  final case class UrlCanon(urlColumn: String, hostColumn: Option[String],
                            domainColumn: Option[String],
                            trackedParams: Option[List[String]] = None)
      extends TransformConfig {
    val name = "urlCanon"
    def check: Option[String] =
      if (trackedParams.exists(_.isEmpty))
        Some("transform.urlCanon.trackedParams must be non-empty when set")
      else None
  }
  /** Corpus-wide line dedup (RefinedWeb recipe) — Web.lineDedup; the
    * text column is REPLACED by the surviving lines (SpanDedup's
    * re-attach contract: row multiplicity and null-id rows preserved,
    * counter columns dropped). `segmentWords > 0` pre-splits
    * single-line word streams into that many words per line — the
    * segmented (newline-carrying) text is what downstream stages see.
    */
  /** Census-advance semantics: plain `advance: true` is AT-LEAST-ONCE
    * — the read-merge-swap advance runs when the stage applies (before
    * the pipeline's target write commits), so a run that fails after
    * the advance leaves the batch's counts folded in. Supplying
    * `advanceTag` upgrades it to replay-idempotent end state: the
    * stage first retires the tag's previous delta (so the probe sees
    * the pre-epoch census), then publishes the batch's delta under the
    * tag's deterministic file names — re-running the same config
    * (same tag) after any failure retires-and-redoes identically, the
    * annIngest discipline.
    */
  final case class LineDedup(idColumn: String, textColumn: String,
                             minDupCount: Int, minLineChars: Int,
                             segmentWords: Int,
                             censusDir: Option[String] = None,
                             advance: Boolean = false,
                             advanceTag: Option[String] = None)
      extends TransformConfig {
    val name = "lineDedup"
    def check: Option[String] =
      if (minDupCount < 2) Some("transform.lineDedup.minDupCount must be >= 2")
      else if (minLineChars < 0) Some("transform.lineDedup.minLineChars must be >= 0")
      else if (segmentWords < 0) Some("transform.lineDedup.segmentWords must be >= 0")
      else if (advance && censusDir.isEmpty)
        Some("transform.lineDedup.advance requires censusDir")
      else if (advanceTag.isDefined && !advance)
        Some("transform.lineDedup.advanceTag requires advance: true")
      else None
  }
  /** Line-quality row+line filter — Web.lineQualityFilter; lines
    * failing the (minTokens, anchorWords) rule are cut from the text,
    * documents keeping fewer than `minKeptLines` lines are DROPPED.
    */
  final case class LineFilter(idColumn: String, textColumn: String,
                              minTokens: Int, anchorWords: List[String],
                              minKeptLines: Int, segmentWords: Int)
      extends TransformConfig {
    val name = "lineFilter"
    def check: Option[String] =
      if (minTokens < 1) Some("transform.lineFilter.minTokens must be >= 1")
      else if (anchorWords.isEmpty) Some("transform.lineFilter.anchorWords required")
      else if (minKeptLines < 1) Some("transform.lineFilter.minKeptLines must be >= 1")
      else if (segmentWords < 0) Some("transform.lineFilter.segmentWords must be >= 0")
      else None
  }
}

sealed trait SourceConfig
object SourceConfig {
  /** `versioned: true` resolves `path` through the `_LATEST` pointer
    * (sources/Versioned) before reading — the copy consumes one
    * immutable snapshot even if a publish lands mid-run.
    */
  /** `versionAt: Some(n)` is the TIME-TRAVEL read: pin the scan to
    * published version `v_n` of a versioned table root instead of
    * resolving `_LATEST` — the audit/repro read ("re-run the job
    * against exactly what we shipped last Tuesday"). Requires
    * `versioned: true`; fails eagerly if the version was vacuumed.
    */
  final case class Parquet(path: String, where: Option[String],
                           columns: Option[List[String]],
                           versioned: Boolean = false,
                           versionAt: Option[Long] = None,
                           mergeSchema: Boolean = false) extends SourceConfig
  final case class Jdbc(url: String, table: String, where: Option[String],
                        partitionColumn: Option[String], numPartitions: Int,
                        lowerBound: Option[String], upperBound: Option[String]) extends SourceConfig
  final case class DynamoS3Export(manifestPath: String) extends SourceConfig
  /** Text sources. `schema` is a DDL string; REQUIRED at scale — schema
    * inference reads the data once before the real scan (two passes over
    * 100 TB), so inference is only allowed as an explicit opt-in.
    */
  final case class Csv(path: String, schema: Option[String], header: Boolean,
                       delimiter: String, inferSchema: Boolean,
                       where: Option[String], columns: Option[List[String]]) extends SourceConfig
  final case class Json(path: String, schema: Option[String], inferSchema: Boolean,
                        where: Option[String], columns: Option[List[String]]) extends SourceConfig
  /** ORC scan — the other columnar lake format; same pushdown/pruning
    * path as parquet (filters and projections reach the ORC reader).
    */
  final case class Orc(path: String, where: Option[String],
                       columns: Option[List[String]]) extends SourceConfig
}

sealed trait TargetConfig
object TargetConfig {
  /** `maxRecordsPerFile` bounds output file size WITHOUT a shuffle
    * (the writer rolls to a new file mid-task) — the knob that keeps a
    * 100 TB write from producing multi-GB files no scan can split
    * effectively, or a coalesced task from emitting one giant file.
    * 0 = engine default (unbounded per task).
    */
  /** `sortBy` clusters rows WITHIN each output file (no shuffle;
    * row-group stats enable data skipping). `globalSortBy` produces a
    * TOTAL order across files (one range-partitioning shuffle: file N's
    * max key <= file N+1's min), the layout for binary-searchable
    * corpora and maximal min/max pruning — mutually exclusive with
    * sortBy, which it subsumes.
    */
  /** `statsIndexColumns`: after the copy, build a file-level min/max
    * stats index over these columns (`<path>/_stats`, see
    * FileStatsIndex) — the write-time-stats discipline that makes
    * later predicate reads skip files without opening them. Pair with
    * sortBy/globalSortBy so the ranges are tight.
    */
  /** `versioned: true` publishes each run as an immutable version
    * directory behind the atomic `_LATEST` pointer (see
    * sources/Versioned) instead of writing `path` in place — readers
    * never see a torn table, and previous versions stay time-travel
    * readable until vacuumed. `mode` is ignored (every publish is a
    * fresh directory).
    */
  /** `compactTargetBytes > 0` runs the crash-safe small-file
    * compaction (sources/Compaction) over the target directory after
    * the copy completes — the maintenance executable's operation as a
    * declarative option, so resumable batch-append pipelines (whose
    * per-batch appends naturally fragment the table) end with sane
    * file sizes in the same run. Non-versioned, non-partitioned
    * targets only (a versioned publish is immutable; partitioned
    * layouts compact per partition dir — use the Maintain executable).
    */
  final case class Parquet(path: String, mode: String, compression: String,
                           partitionBy: List[String] = Nil,
                           sortBy: List[String] = Nil,
                           maxRecordsPerFile: Long = 0L,
                           globalSortBy: List[String] = Nil,
                           statsIndexColumns: List[String] = Nil,
                           versioned: Boolean = false,
                           zorderBy: List[String] = Nil,
                           zorderFiles: Int = 0,
                           compactTargetBytes: Long = 0L) extends TargetConfig {
    def validate: Either[String, Parquet] = {
      val modes = Set("overwrite", "append", "errorifexists", "ignore")
      val codecs = Set("snappy", "gzip", "zstd", "lz4", "none", "uncompressed")
      if (!modes.contains(mode.toLowerCase)) Left(s"invalid parquet write mode: $mode")
      else if (!codecs.contains(compression.toLowerCase)) Left(s"invalid compression: $compression")
      else if (compactTargetBytes < 0)
        Left(s"target.compactTargetBytes must be >= 0, got $compactTargetBytes")
      else if (compactTargetBytes > 0 && versioned)
        Left("target.compactTargetBytes rewrites files in place — incompatible " +
          "with versioned immutable publishes")
      else if (compactTargetBytes > 0 && partitionBy.nonEmpty)
        Left("target.compactTargetBytes compacts a flat directory — run the " +
          "Maintain executable per partition for partitioned layouts")
      else if (maxRecordsPerFile < 0) Left(s"maxRecordsPerFile must be >= 0, got $maxRecordsPerFile")
      else if (sortBy.nonEmpty && globalSortBy.nonEmpty)
        Left("target.sortBy and target.globalSortBy are mutually exclusive " +
          "(globalSortBy already sorts within files)")
      else if (zorderBy.nonEmpty && (sortBy.nonEmpty || globalSortBy.nonEmpty))
        Left("target.zorderBy is its own layout — exclusive with sortBy/globalSortBy")
      else if (zorderBy.nonEmpty && zorderBy.size < 2)
        Left("target.zorderBy needs at least two columns (one column is just a sort " +
          "— use target.globalSortBy)")
      else if (zorderFiles < 0)
        Left(s"target.zorderFiles must be >= 0, got $zorderFiles")
      else Right(this)
    }
  }
  final case class DynamoS3Export(path: String) extends TargetConfig
  /** WebDataset-style tar shard sink — sources/TarShards: byte-bounded
    * POSIX ustar sample shards + a `_manifest` parquet index. The
    * payload column is cast to binary (a text corpus exports directly).
    */
  final case class TarShards(path: String, keyColumn: String,
                             payloadColumn: String, maxShardBytes: Long,
                             numShards: Int, suffix: String) extends TargetConfig {
    def validate: Either[String, TarShards] =
      if (maxShardBytes < 1536)
        Left(s"target.maxShardBytes must be >= 1536 (3 tar blocks), got $maxShardBytes")
      else if (numShards <= 0) Left(s"target.numShards must be positive, got $numShards")
      else Right(this)
  }
  final case class Csv(path: String, mode: String, header: Boolean,
                       delimiter: String, compression: String) extends TargetConfig
  final case class Json(path: String, mode: String, compression: String) extends TargetConfig
  final case class Orc(path: String, mode: String, compression: String) extends TargetConfig {
    def validate: Either[String, Orc] = {
      val modes = Set("overwrite", "append", "errorifexists", "ignore")
      val codecs = Set("snappy", "zlib", "zstd", "lz4", "lzo", "none", "uncompressed")
      if (!modes.contains(mode.toLowerCase)) Left(s"invalid orc write mode: $mode")
      else if (!codecs.contains(compression.toLowerCase)) Left(s"invalid orc compression: $compression")
      else Right(this)
    }
  }
}

final case class ValidationConfig(
    primaryKey: List[String],
    compareColumns: List[String],
    tolerance: Double,
    failuresToFetch: Int)

/** Continuous-replication arm (reference: `streamChanges: true` in the
  * YAML config triggers snapshot-then-stream,
  * alternator/AlternatorMigrator.scala:134-192). The change feed is a
  * parquet directory of `(payload..., opColumn, orderBy...)` rows; the
  * apply is idempotent last-writer-wins ordered by `orderBy` descending.
  */
final case class StreamConfig(
    changesDir: String,
    checkpointDir: String,
    primaryKey: List[String],
    opColumn: String,
    orderBy: List[String],
    triggerMs: Long,
    changesSchema: Option[String] = None) // DDL string, e.g. "id LONG, v STRING, op STRING, seq LONG"


object PipelineConfig {

  /** Load from any Hadoop-visible path (local, s3a://, gs:// — whatever
    * filesystems the runtime has configured; reference:
    * config/MigratorConfig.loadFrom, MigratorConfig.scala:155-172).
    */
  def loadFrom(path: String,
               conf: org.apache.hadoop.conf.Configuration): Either[String, PipelineConfig] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val text =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    parse(text)
  }

  /** Parse the flat `section.key: value` line format. Unknown keys are
    * errors (config typos must not silently change behavior). A key is
    * known if and only if some section builder below reads it: the
    * known set is what the builders read over an empty map. A missing
    * required or malformed value is a `Left` worded `<key> required` or
    * `<key> not an int|a long|a double|a boolean`.
    */
  def parse(text: String): Either[String, PipelineConfig] = {
    val entries = text.linesIterator
      .map(_.takeWhile(_ != '#').trim)
      .filter(_.nonEmpty)
      .map { line =>
        val i = line.indexOf(':')
        if (i < 0) return Left(s"malformed line: $line")
        line.take(i).trim -> line.drop(i + 1).trim
      }
      .toList
    val map = entries.toMap
    if (map.size != entries.size) Left("duplicate config key")
    else map.keys.find(!knownKeys.contains(_)) match {
      case Some(k) => Left(s"unknown config key: $k")
      case None    => pipeline(new Fields(map, ""))
    }
  }

  /** One section's field reader. Every accessor records the full key it
    * reads, and turns a missing required value or a malformed one into
    * the section's error — the first in read order wins, and later
    * accessors still run (so a builder run over an empty map records
    * every key it can read).
    */
  private final class Fields(map: Map[String, String], prefix: String) {
    val keys = scala.collection.mutable.Set.empty[String]
    private var error: Option[String] = None
    def fail(msg: String): Unit = if (error.isEmpty) error = Some(msg)
    def result[A](a: A): Either[String, A] = error.toLeft(a)
    /** Runs `build` over the keys under `sub`, as its own section. */
    def section[A](sub: String)(build: Fields => A): Either[String, A] = {
      val s = new Fields(map, sub)
      s.result(build(s))
    }

    def opt(k: String): Option[String] = { keys += prefix + k; map.get(prefix + k) }
    def has(k: String): Boolean = opt(k).isDefined
    def str(k: String, default: String): String = opt(k).getOrElse(default)
    def req(k: String, note: String = ""): String =
      opt(k).getOrElse { fail(s"$prefix$k required$note"); "" }
    private def as[A](k: String, what: String, conv: String => Option[A]): Option[A] =
      opt(k).flatMap(v => conv(v).orElse { fail(s"$prefix$k not $what"); None })
    def optInt(k: String): Option[Int] = as(k, "an int", _.toIntOption)
    def int(k: String, default: Int): Int = optInt(k).getOrElse(default)
    def long(k: String, default: Long): Long = as(k, "a long", _.toLongOption).getOrElse(default)
    def double(k: String, default: Double): Double =
      as(k, "a double", _.toDoubleOption).getOrElse(default)
    def bool(k: String, default: Boolean): Boolean =
      as(k, "a boolean", _.toBooleanOption).getOrElse(default)
    def reqInt(k: String): Int = { req(k); int(k, 0) }
    def reqLong(k: String, note: String = ""): Long = { req(k, note); long(k, 0L) }

    /** Comma list; blanks dropped. */
    def optList(k: String): Option[List[String]] =
      opt(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toList)
    def list(k: String): List[String] = optList(k).getOrElse(Nil)
    def longs(k: String, default: List[Long]): List[Long] = optList(k).fold(default) { parts =>
      val longs = parts.flatMap(_.toLongOption)
      if (longs.size != parts.size) fail(s"$prefix$k not a comma list of longs")
      longs
    }
    /** `name=int` list; `bad` words the error for a malformed entry. */
    def pairs(k: String)(bad: String => String): List[(String, Int)] = list(k).flatMap { e =>
      e.split("=") match {
        case Array(nm, n) if n.trim.toIntOption.isDefined => Some(nm.trim -> n.trim.toInt)
        case _ => fail(bad(e)); None
      }
    }
  }

  /** The top-level keys, then the source, target and stage sections
    * they name.
    */
  private def pipeline(f: Fields): Either[String, PipelineConfig] = {
    val sourceType = f.opt("source.type")
    val targetType = f.opt("target.type")
    val renames = f.list("renames").flatMap { r =>
      r.split("->") match {
        case Array(from, to) => Some(Rename(from.trim, to.trim))
        case _ => f.fail(s"malformed rename (want from->to): $r"); None
      }
    }
    val savepointsDir = f.opt("savepoints.dir")
    val skipFiles = f.list("skipFiles").toSet
    val validation = ValidationConfig(f.list("validation.primaryKey"),
      f.list("validation.compareColumns"), f.double("validation.tolerance", 0),
      f.int("validation.failuresToFetch", 100))
    val stream = StreamConfig(f.str("stream.changesDir", ""),
      f.str("stream.checkpointDir", ""), f.list("stream.primaryKey"),
      f.str("stream.opColumn", "op"), f.list("stream.orderBy"),
      f.long("stream.triggerMs", 5000L), f.opt("stream.changesSchema"))
    if (f.has("stream.changesDir") && !f.has("stream.checkpointDir"))
      f.fail("stream.checkpointDir required when stream.changesDir is set")
    val transformNames = f.list("transforms")

    def typed[A](kind: String, tpe: Option[String], builders: Map[String, Fields => A]) =
      tpe.flatMap(builders.get)
        .toRight(s"unsupported $kind.type: ${tpe.getOrElse("<missing>")}")
        .flatMap(f.section(s"$kind.")(_))
    for {
      _ <- f.result(())
      source <- typed("source", sourceType, sources)
      target <- typed("target", targetType, targets).flatten
      transforms <- transformNames.foldLeft(Right(Nil): Either[String, List[TransformConfig]]) {
        (acc, n) => for {
          done <- acc
          build <- stages.get(n).toRight(s"unknown transform stage: $n")
          t <- f.section(s"transform.$n.")(build)
        } yield t :: done
      }.map(_.reverse)
      cfg <- PipelineConfig(source, target, renames, savepointsDir, skipFiles,
        Option.when(f.has("validation.primaryKey"))(validation),
        Option.when(f.has("stream.changesDir"))(stream), transforms).validate
    } yield cfg
  }

  /** Text sources scan twice to infer a schema, so inference is opt-in. */
  private def textSchema(f: Fields, kind: String): (Option[String], Boolean) = {
    val schema = f.opt("schema")
    val infer = f.bool("inferSchema", false)
    if (schema.isEmpty && !infer)
      f.fail(s"$kind source requires source.schema (or source.inferSchema: true " +
        "— inference scans the data twice, opt in explicitly)")
    (schema, infer)
  }

  private val sources: Map[String, Fields => SourceConfig] = Map(
    ("parquet", { f =>
      val path = f.req("path")
      val versioned = f.bool("versioned", false)
      val versionAt = f.opt("versionAt").map(_.toLongOption.filter(_ > 0) match {
        case Some(n) =>
          if (!versioned) f.fail("source.versionAt requires source.versioned: true")
          n
        case None => f.fail("source.versionAt must be a positive long"); 0L
      })
      SourceConfig.Parquet(path, f.opt("where"), f.optList("columns"), versioned, versionAt,
        f.bool("mergeSchema", false))
    }),
    ("jdbc", f => SourceConfig.Jdbc(f.req("url"), f.req("table"), f.opt("where"),
      f.opt("partitionColumn"), f.int("numPartitions", 1), f.opt("lowerBound"),
      f.opt("upperBound"))),
    ("dynamo-s3-export", f => SourceConfig.DynamoS3Export(f.req("path"))),
    ("csv", { f =>
      val path = f.req("path")
      val (schema, infer) = textSchema(f, "csv")
      SourceConfig.Csv(path, schema, f.bool("header", true), f.str("delimiter", ","), infer,
        f.opt("where"), f.optList("columns"))
    }),
    ("json", { f =>
      val path = f.req("path")
      val (schema, infer) = textSchema(f, "json")
      SourceConfig.Json(path, schema, infer, f.opt("where"), f.optList("columns"))
    }),
    ("orc", f => SourceConfig.Orc(f.req("path"), f.opt("where"), f.optList("columns"))))

  private val targets: Map[String, Fields => Either[String, TargetConfig]] = Map(
    ("parquet", f => TargetConfig.Parquet(f.req("path"), f.str("mode", "errorifexists"),
      f.str("compression", "snappy"), f.list("partitionBy"), f.list("sortBy"),
      f.long("maxRecordsPerFile", 0L), f.list("globalSortBy"), f.list("statsIndex"),
      f.bool("versioned", false), f.list("zorderBy"), f.int("zorderFiles", 0),
      f.long("compactTargetBytes", 0L)).validate),
    ("dynamo-s3-export", f => Right(TargetConfig.DynamoS3Export(f.req("path")))),
    ("tar-shards", f => TargetConfig.TarShards(f.req("path"), f.req("keyColumn"),
      f.req("payloadColumn"), f.long("maxShardBytes", 128L * 1024 * 1024),
      f.int("numShards", 32), f.str("suffix", ".bin")).validate),
    ("csv", f => Right(TargetConfig.Csv(f.req("path"), f.str("mode", "errorifexists"),
      f.bool("header", true), f.str("delimiter", ","), f.str("compression", "none")))),
    ("json", f => Right(TargetConfig.Json(f.req("path"), f.str("mode", "errorifexists"),
      f.str("compression", "none")))),
    ("orc", f => TargetConfig.Orc(f.req("path"), f.str("mode", "errorifexists"),
      f.str("compression", "snappy")).validate))

  import TransformConfig._

  /** One builder per transform stage, reading `transform.<name>.*`. */
  private val stages: Map[String, Fields => TransformConfig] = Map(
    ("dedupExact", f => DedupExact(f.req("idColumn"), f.req("textColumn"))),
    ("sourceCap", f => SourceCap(f.list("groupColumns"), f.req("idColumn"),
      f.req("textColumn"), f.reqInt("k"))),
    ("split", f => Split(f.req("keyColumn"),
      f.pairs("fractions")(e => s"malformed split fraction (want name=int): $e"),
      f.int("denom", 100))),
    ("normalize", f => Normalize(f.req("textColumn"))),
    ("spanDedup", f => SpanDedup(f.req("idColumn"), f.req("textColumn"),
      f.int("spanTokens", 3), f.int("minDocs", 2), f.bool("keepFirst", false))),
    ("dupSpanCut", f => DupSpanCut(f.req("idColumn"), f.req("textColumn"),
      f.int("gramTokens", 8), f.long("minCount", 2L))),
    ("minhashDedup", f => MinhashDedup(f.req("idColumn"), f.req("textColumn"),
      f.int("shingleSize", 3), f.int("numHashes", 64), f.int("bands", 16),
      f.int("rowsPerBand", 4), f.int("thresholdNum", 9), f.int("thresholdDenom", 10),
      f.bool("keepLongest", false))),
    ("semanticDedup", f => SemanticDedup(f.req("idColumn"), f.req("vecColumn"),
      f.int("numPlanes", 80), f.int("bandBits", 4), f.double("threshold", 0.9),
      f.long("seed", 42L))),
    ("decontaminate", f => Decontaminate(f.req("idColumn"), f.req("textColumn"),
      f.req("referencePath"), f.int("ngram", 8), f.long("minShared", 1L))),
    ("semanticDecontaminate", f => SemanticDecontaminate(f.req("vecColumn"),
      f.req("referencePath"), f.reqLong("minDot"))),
    ("piiScrub", f => PiiScrub(f.req("textColumn"))),
    ("dsirFilter", { f =>
      val (id, text) = (f.req("idColumn"), f.req("textColumn"))
      DsirFilter(id, text, f.req("targetPath"), f.str("targetTextColumn", text),
        f.int("buckets", 64), f.int("keepNum", 1), f.int("keepDenom", 2))
    }),
    ("pplFilter", f => PplFilter(f.req("idColumn"), f.req("textColumn"),
      f.req("langColumn"), f.int("buckets", 3), f.longs("keep", Nil),
      f.bool("approx", true))),
    ("tokenBudget", f => TokenBudget(f.req("groupColumn"), f.req("keyColumn"),
      f.req("tokenColumn"), f.reqLong("budget"), f.int("shards", 256))),
    ("incrDedup", { f =>
      val (id, text) = (f.req("idColumn"), f.req("textColumn"))
      IncrDedup(id, text, f.req("referencePath"), f.str("referenceTextColumn", text))
    }),
    ("mixToTarget", f => MixToTarget(f.req("keyColumn"), f.req("groupColumn"),
      f.pairs("weights")(e => s"malformed mixToTarget weight (want group=int): $e"),
      f.int("wDenom", 100))),
    ("outlierFilter", f => OutlierFilter(f.req("valueColumn"), f.req("groupColumn"),
      f.double("z", 3.0))),
    ("qualityFilter", f => QualityFilter(f.req("textColumn"), f.reqLong("minScore"),
      f.long("bias", 0L), f.long("wStop", 4L), f.long("wPunct", -2L),
      f.long("wDigit", -3L), f.long("wTokLen", 1L))),
    ("gopherFilter", f => GopherFilter(f.req("textColumn"), f.long("minWords", 50L),
      f.long("maxWords", 100000L), f.long("minMeanLen", 3L), f.long("maxMeanLen", 10L),
      f.long("minAlphaPct", 80L), f.long("maxSymbolPct", 10L), f.long("minStopHits", 2L),
      f.long("maxTopTokenPct", 20L))),
    ("repetitionFilter", f => RepetitionFilter(f.req("textColumn"),
      f.longs("topPcts", List(20L, 18L, 16L)),
      f.longs("dupPcts", List(15L, 14L, 13L, 12L, 11L, 10L)))),
    ("blocklist", f => BlocklistFilter(f.req("textColumn"), f.req("termsPath"),
      f.long("maxTerms", 0L))),
    ("sessionize", f => SessionizeStage(f.list("keys"), f.req("tsColumn"), f.req("gap"),
      f.list("tieBreak"))),
    ("funnel", f => FunnelStage(f.req("keyColumn"), f.req("tsColumn"), f.req("typeColumn"),
      f.list("steps"))),
    ("retention", f => RetentionStage(f.req("keyColumn"), f.req("tsColumn"),
      f.int("bucketDays", 7))),
    ("scd2History", f => Scd2HistoryStage(f.req("keyColumn"), f.req("tsColumn"),
      f.req("opColumn"), f.str("upsertOp", "upsert"), f.str("deleteOp", "delete"),
      f.list("valueColumns"), f.list("tieBreak"))),
    ("pitEnrich", f => PitEnrichStage(f.req("historyPath"), f.req("keyColumn"),
      f.req("tsColumn"), f.list("valueColumns"))),
    ("mergeSnapshot", f => MergeSnapshotStage(f.req("snapshotPath"), f.list("keys"),
      f.bool("deleteStale", false))),
    ("phashDedup", f => PhashDedupStage(f.req("idColumn"), f.req("payloadColumn"),
      f.str("decoder", "stub"), f.int("maxDist", 8), f.bool("lenient", false))),
    ("scd2Append", f => Scd2AppendStage(f.req("historyPath"), f.req("keyColumn"),
      f.req("tsColumn"), f.req("opColumn"), f.str("upsertOp", "upsert"),
      f.str("deleteOp", "delete"), f.list("valueColumns"), f.list("tieBreak"))),
    ("constraintGate", f => ConstraintGateStage(f.list("notNull"), f.list("uniqueKey"),
      f.long("minRows", 0L), f.long("maxRows", Long.MaxValue), f.str("fkColumn", ""),
      f.str("fkRefPath", ""), f.str("fkRefColumn", ""))),
    ("seqPack", f => SeqPack(f.req("idColumn"), f.req("textColumn"),
      f.long("budget", 2048L), f.long("shardWidth", 100000L))),
    ("resampleByWeight", f => ResampleStage(f.req("keyColumn"), f.req("rateColumn"),
      f.int("denom", 1000000))),
    ("lshDedup", f => LshDedupStage(f.req("indexPath"), f.req("idColumn"),
      f.req("textColumn"), f.int("thresholdNum", 9), f.int("thresholdDenom", 10),
      f.int("minBands", 4), f.int("minMatchingHashes", 46), f.bool("advance", false),
      f.int("maxPruneKeys", 2000000), f.long("minPruneBytes", 0L))),
    ("annSearch", f => AnnSearchStage(f.req("indexRoot"), f.req("idColumn"),
      f.req("vecColumn"), f.int("k", 10), f.int("nProbe", 4), f.bool("versioned", false),
      f.opt("filterPath"), f.opt("filterColumn"), f.opt("rerankPath"),
      f.optInt("rerankKCand"))),
    ("annIngest", f => AnnIngestStage(f.req("indexRoot"), f.req("idColumn"),
      f.req("vecColumn"), f.req("tag"))),
    ("forget", f => ForgetStage(f.req("store", s" (${ForgetStage.Stores.mkString("|")})"),
      f.req("root"), f.req("idColumn"))),
    ("rfm", f => RfmStage(f.req("keyColumn"), f.req("tsColumn"), f.req("valueColumn"),
      f.req("asOf", " (ISO date)"), f.int("buckets", 5))),
    ("transitionMatrix", f => TransitionMatrixStage(f.req("keyColumn"), f.req("tsColumn"),
      f.req("typeColumn"), f.list("tieBreak"))),
    ("attribution", f => AttributionStage(f.req("keyColumn"), f.req("tsColumn"),
      f.req("typeColumn"), f.req("conversionType"), f.list("touchTypes"),
      f.list("tieBreak"))),
    ("anomaly", f => AnomalyStage(f.list("keyColumns"), f.list("orderColumns"),
      f.req("valueColumn"), f.int("window", 20), f.int("minPoints", 8), f.int("z", 3),
      f.reqLong("maxAbsValue",
        " (the 64-bit overflow contract needs the caller's |value| bound)"))),
    ("winsorize", { f =>
      val (value, out) = (f.req("valueColumn"), f.req("outColumn"))
      WinsorizeStage(f.list("groupColumns"), value, f.int("pct", 5), out,
        f.str("tier", "exact"))
    }),
    ("intervalJoin", f => IntervalJoinStage(f.req("rightPath"), f.req("leftLo"),
      f.req("leftHi"), f.req("rightLo"), f.req("rightHi"),
      f.list("keys").flatMap(p => p.split("=") match {
        case Array(a, b) if a.trim.nonEmpty && b.trim.nonEmpty => Some(a.trim -> b.trim)
        case _ => f.fail(s"transform.intervalJoin.keys entry '$p' is not left=right"); None
      }),
      f.double("bandWidth", 0))),
    ("components", f => ComponentsStage(f.req("srcColumn"), f.req("dstColumn"),
      f.int("maxIters", 10))),
    ("triangles", f => TrianglesStage(f.req("srcColumn"), f.req("dstColumn"))),
    ("reachable", f => ReachableStage(f.req("srcColumn"), f.req("dstColumn"),
      f.req("rootsPath"), f.req("rootColumn"), f.int("maxDepth", 3))),
    ("bitemporal", f => BitemporalStage(f.req("keyColumn"), f.req("validTsColumn"),
      f.req("txTsColumn"), f.req("opColumn"), f.str("upsertOp", "upsert"),
      f.str("deleteOp", "delete"), f.list("valueColumns"), f.req("validAt"),
      f.req("txAt"), f.list("tieBreak"))),
    ("linkExtract", f => LinkExtract(f.req("htmlColumn"), f.req("hrefColumn"))),
    ("lexSearch", f => LexSearchStage(f.req("indexRoot"), f.req("queryIdColumn"),
      f.req("termColumn"), f.int("k", 10))),
    ("rrfFuse", f => RrfFuseStage(f.req("otherPath"), f.req("queryIdColumn"),
      f.req("idColumn"), f.str("rankColumn", "rank"), f.int("k", 10), f.int("kRrf", 60))),
    ("graphEpoch", f => GraphEpochStage(f.req("root"), f.req("srcColumn"),
      f.req("dstColumn"), f.req("tag"))),
    ("pageRank", f => PageRankStage(f.req("srcColumn"), f.req("dstColumn"),
      f.int("iters", 3), f.int("dampingPct", 85), f.bool("dangling", false),
      f.str("seedsPath", ""), f.str("seedColumn", "id"))),
    ("hits", f => HitsStage(f.req("srcColumn"), f.req("dstColumn"), f.int("iters", 2))),
    ("mmrRerank", f => MmrStage(f.req("queryIdColumn"), f.req("idColumn"),
      f.req("scoreColumn"), f.req("vecColumn"), f.int("k", 10), f.int("lambdaPct", 70))),
    ("evalRanking", f => EvalRankingStage(f.req("truthPath"), f.req("queryIdColumn"),
      f.req("idColumn"), f.str("rankColumn", "rank"), f.int("k", 10),
      f.opt("relColumn"))),
    ("htmlExtract", f => HtmlExtract(f.req("textColumn"))),
    ("urlCanon", f => UrlCanon(f.req("urlColumn"), f.opt("hostColumn"),
      f.opt("domainColumn"), f.optList("trackedParams"))),
    ("lineDedup", { f =>
      val stage = LineDedup(f.req("idColumn"), f.req("textColumn"),
        f.int("minDupCount", 2), f.int("minLineChars", 2), f.int("segmentWords", 0),
        f.opt("censusDir"), f.bool("advance", false), f.opt("advanceTag"))
      // the census pins eligibility in its own sidecar; accepting an
      // explicit minLineChars alongside it would be a silently ignored
      // knob — the failure shape the NearDupStore banding check exists for
      if (stage.censusDir.isDefined && f.has("minLineChars"))
        f.fail("transform.lineDedup.minLineChars is pinned by the " +
          "census sidecar — remove it when censusDir is set")
      stage
    }),
    ("lineFilter", f => LineFilter(f.req("idColumn"), f.req("textColumn"),
      f.reqInt("minTokens"), f.list("anchorWords"), f.int("minKeptLines", 1),
      f.int("segmentWords", 0))))

  /** Every key some builder reads: each builder once over an empty map,
    * once per JVM.
    */
  private[config] lazy val knownKeys: Set[String] = {
    def keys(prefix: String)(build: Fields => Any): Iterable[String] = {
      val f = new Fields(Map.empty, prefix)
      build(f)
      f.keys
    }
    (keys("")(pipeline) ++ sources.values.flatMap(keys("source.")) ++
      targets.values.flatMap(keys("target.")) ++
      stages.flatMap { case (n, b) => keys(s"transform.$n.")(b) }).toSet
  }

  /** Registered section names, for specs that walk every builder. */
  private[config] def sourceTypes: Set[String] = sources.keySet
  private[config] def targetTypes: Set[String] = targets.keySet
  private[config] def stageNames: Set[String] = stages.keySet
}
