package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config._
import graft.operators.Relational
import graft.savepoints.{SavepointsManager, StringSetAccumulator}
import graft.sources.{DdbTables, JdbcSupport, ParquetSource}
import graft.validation.Diff

/** The migrate/validate runner: dispatch on (source, target) exactly like
  * the reference's Migrator.migrate (Migrator.scala:64-98), with the
  * resumable-progress loop and the post-copy validation join.
  *
  * Execution model: everything between read and write is a declarative
  * DataFrame plan (renames/filters/projections fold into the scan;
  * Catalyst pushes the `where` and prunes columns), so the copy is one
  * scan -> one write with no intermediate materialization. Savepoints
  * ride the explicit per-file-batch loop from ParquetSource — file
  * completion is engine state, not a Catalyst concern (SURVEY.md §4).
  */
object Pipeline {

  final case class Result(rowsCopied: Long, filesCompleted: Set[String],
                          validation: Option[DataFrame],
                          writtenSchema: Option[org.apache.spark.sql.types.StructType] = None) {
    /** Read the run's parquet target back WITHOUT a footer-inference
      * job: the writer already knows the schema it wrote (a schema-less
      * `read.parquet` pays one Spark job per call just to re-discover
      * it — guide §1, a job is a fixed scheduling quantum). Falls back
      * to live inference when the write path couldn't pin the schema
      * (partitioned layouts read partition columns back differently).
      */
    def readTarget(spark: SparkSession, path: String): DataFrame =
      writtenSchema.fold(spark.read.parquet(path))(
        sc => spark.read.schema(sc).parquet(path))
  }

  /** Parquet side-input read (stage reference tables, fused rankings,
    * validation targets) without a footer-inference job: the schema
    * comes from [[graft.sources.KeyedReads.schemaFor]] — cached per
    * file signature and resolved driver-side for Spark-written files.
    */
  private def sideInput(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(graft.sources.KeyedReads.schemaFor(spark, path))
      .parquet(path)

  def read(spark: SparkSession, cfg: PipelineConfig): DataFrame = cfg.source match {
    case SourceConfig.Parquet(root, where, columns, versioned, versionAt, mergeSchema) =>
      // versioned sources resolve the _LATEST pointer ONCE — the copy
      // consumes one immutable snapshot even if a publish lands mid-run;
      // versionAt pins an explicit published version instead (time travel)
      val path =
        if (versioned) {
          val n = versionAt.getOrElse(
            graft.sources.Versioned.latestVersion(spark, root)
              .getOrElse(throw new IllegalArgumentException(
                s"source.versioned: no published version under $root")))
          val dir = new org.apache.hadoop.fs.Path(root, f"v_$n%010d")
          val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          require(fs.exists(dir),
            s"source.versionAt: version $n not found under $root " +
              "(vacuumed, or never published)")
          dir.toString
        } else root
      // file-level skipping stacks twice before any byte is read: the
      // resume skip-set, then _stats-index pruning with predicates
      // derived from the where condition (conservative — the residual
      // filter below still applies the FULL condition)
      val listed = ParquetSource
        .listParquetFiles(path, spark.sparkContext.hadoopConfiguration)
        .filterNot(cfg.skipFiles.contains)
      require(listed.nonEmpty, s"no parquet files left to read under $path")
      val pruned = graft.sources.FileStatsIndex.autoPrune(
        spark, path, listed,
        where.map(w => org.apache.spark.sql.GraftColumnBridge.parseExpression(spark, w)))
      // mergeSchema unions the per-file schemas (the schema-evolution
      // read: columns added over a table's lifetime come back NULL on
      // old files) — opt-in because it footprints every file's footer.
      // Non-merge reads take the cached/driver-side schema (one footer
      // read, no inference job — see KeyedReads.schemaFor).
      val reader =
        if (mergeSchema) spark.read.option("mergeSchema", "true")
        else spark.read.schema(
          graft.sources.KeyedReads.schemaFor(spark, path))
      var df =
        if (pruned.isEmpty) reader.parquet(listed.head).filter(lit(false))
        else reader.parquet(pruned: _*)
      df = where.fold(df)(w => df.filter(expr(w)))
      df = columns.fold(df)(cs => Relational.selectResolved(df, cs))
      df
    case SourceConfig.Jdbc(url, table, where, partCol, numParts, lo, hi) =>
      // built-in JDBC source; user pieces validated before they reach it
      val dbtable = JdbcSupport.dbtableSubquery(table, where)
        .fold(err => throw new IllegalArgumentException(err), identity)
      val r = spark.read.format("jdbc")
        .option("url", url).option("dbtable", dbtable)
      val partitioned = (partCol, lo, hi) match {
        case (Some(c), Some(l), Some(h)) =>
          // bound type inferred from the literal: numeric, date, and
          // timestamp partition columns are all valid for Spark's JDBC
          // source (hardwiring NumericBound rejected date-partitioned reads)
          JdbcSupport.validateBounds(JdbcSupport.inferBoundType(l), l, h, numParts)
            .fold(err => throw new IllegalArgumentException(err), identity)
          r.option("partitionColumn", c).option("lowerBound", l)
            .option("upperBound", h).option("numPartitions", numParts.toString)
        case _ => r
      }
      partitioned.load()
    case SourceConfig.DynamoS3Export(manifestPath) =>
      // DataSourceV2 path: the skip-set prunes data files at planning
      // time (planInputPartitions) and manifest stats feed the optimizer
      val r = spark.read.format(graft.sources.v2.DdbExportSource.Name)
        .option("path", manifestPath)
      (if (cfg.skipFiles.nonEmpty) r.option("skipFiles", cfg.skipFiles.mkString(","))
       else r).load()
    case SourceConfig.Csv(path, schema, header, delimiter, infer, where, columns) =>
      // explicit schema is the scale path (config.parse enforces the
      // opt-in for inference); filters/projections still push into the
      // csv scan like parquet's
      var r = spark.read.option("header", header.toString)
        .option("delimiter", delimiter)
      r = schema.fold(r.option("inferSchema", infer.toString))(r.schema)
      var df = r.csv(path)
      df = where.fold(df)(w => df.filter(expr(w)))
      columns.fold(df)(cs => Relational.selectResolved(df, cs))
    case SourceConfig.Json(path, schema, infer, where, columns) =>
      var r = spark.read
      r = schema.fold(r)(r.schema)
      var df = r.json(path)
      df = where.fold(df)(w => df.filter(expr(w)))
      columns.fold(df)(cs => Relational.selectResolved(df, cs))
    case SourceConfig.Orc(path, where, columns) =>
      // same pushdown path as parquet: filters reach the ORC reader's
      // PushedFilters, projections prune the read schema
      var df = spark.read.orc(path)
      df = where.fold(df)(w => df.filter(expr(w)))
      columns.fold(df)(cs => Relational.selectResolved(df, cs))
  }

  def transform(df: DataFrame, cfg: PipelineConfig): DataFrame =
    cfg.transforms.foldLeft(
      Relational.applyRenames(fanOutForTransforms(df, cfg), cfg.renames))(applyStage)

  /** Compute fan-out for declarative transform chains (guide §2 —
    * partitioning derived from the input): a parquet source whose file
    * layout offers fewer row groups than the session has cores pins
    * every per-row transform (tokenize, hash, extract) to row-group
    * width. The exchange only pays when the chain actually runs heavy
    * per-row compute on the scan-side partitioning — i.e. a per-row
    * stage is reached BEFORE any stage that shuffles anyway (an
    * aggregation-first chain like rfm/winsorize gets core-width
    * partitioning from its own exchange, so a pre-shuffle here is pure
    * cost — measured +41% on q_cfg_rfm in r15). Fires only when such a
    * stage exists AND the source is big enough for the exchange to pay
    * (≥1 MiB — query-batch-sized inputs skip it), and repartitions on
    * the source's columns (deterministic hash keys — no round-robin
    * local sort; AQE never coalesces an explicit-width repartition).
    * No-op on any layout that already feeds every core — at warehouse
    * scale sources carry thousands of row groups and this never fires.
    * Plain copies (no transforms) never reshape.
    */
  private def fanOutForTransforms(df: DataFrame, cfg: PipelineConfig): DataFrame =
    cfg.source match {
      case p: SourceConfig.Parquet
          if chainStartsPerRowCompute(cfg.transforms) && !p.versioned =>
        val spark = df.sparkSession
        val cores = spark.sparkContext.defaultParallelism
        val (units, bytes) =
          try Tables.scanLayout(spark, p.path)
          catch { case scala.util.control.NonFatal(_) => (cores, 0L) }
        if (units >= cores || bytes < (1L << 20)) df
        else df.repartition(cores, df.columns.map(col).toIndexedSeq: _*)
      case _ => df
    }

  /** True iff the chain reaches a heavy per-row compute stage (tokenize
    * / hash / extract / decode classes) before any stage that shuffles
    * the frame itself — only then does a scan-side fan-out parallelize
    * work that would otherwise run at row-group width. Narrow, cheap
    * pass-through stages (hash-sample filters) are transparent to the
    * walk; everything else (aggregations, windows, joins-first stages,
    * store/side-effect stages) ends it.
    */
  private def chainStartsPerRowCompute(
      ts: Seq[graft.config.TransformConfig]): Boolean = {
    import graft.config.TransformConfig
    import graft.config.TransformConfig._
    // narrow, cheap pass-throughs the walk skips (hash-sample filters:
    // no shuffle, trivial per-row work, preserve partitioning)
    def transparent(t: TransformConfig) = t match {
      case _: Split | _: ResampleStage => true
      case _ => false
    }
    // heavy map-side per-row work (tokenize / hash / extract / decode)
    def perRow(t: TransformConfig) = t match {
      case _: Normalize | _: HtmlExtract | _: UrlCanon | _: PiiScrub |
           _: QualityFilter | _: GopherFilter | _: RepetitionFilter |
           _: BlocklistFilter | _: DedupExact | _: SpanDedup |
           _: LineDedup | _: LineFilter | _: DupSpanCut |
           _: MinhashDedup | _: SemanticDedup | _: Decontaminate |
           _: SemanticDecontaminate | _: DsirFilter | _: PplFilter |
           _: PhashDedupStage | _: SeqPack | _: IncrDedup |
           _: LshDedupStage => true
      case _ => false
    }
    ts.dropWhile(transparent).headOption.exists(perRow)
  }

  /** [[transform]] with per-row drop attribution — curation forensics:
    * alongside the surviving frame, returns an audit frame
    * (`idColumn`, stage_idx, dropped_by) naming, for every input row
    * that did not survive, the FIRST stage that dropped it. At 100 TB
    * "the pipeline kept 37% of the crawl" is not actionable without
    * this; per-stage aggregate counts (StageMetrics) say how much each
    * stage dropped, the audit says WHICH rows — the thing a curation
    * owner needs to answer "why is this document missing".
    *
    * Cost model (opt-in diagnostic, ~2× the plain run): each stage
    * output is materialized once (it feeds both the next stage and
    * one ids-only anti-join), and each audit join shuffles only the
    * id column. Requires every stage to PRESERVE `idColumn` (filters
    * and row-dedup stages do; terminal reshapes like rfm change the
    * row identity and fail fast) and ids to be unique, which curation
    * corpora guarantee.
    */
  def transformAudited(df: DataFrame, cfg: PipelineConfig, idColumn: String)
      : (DataFrame, DataFrame) = {
    val start = Relational.applyRenames(df, cfg.renames)
    require(start.columns.contains(idColumn),
      s"audit id column $idColumn missing from the input")
    var cur = graft.Checkpoints.materialize(start)
    val audits = scala.collection.mutable.ArrayBuffer[DataFrame]()
    cfg.transforms.zipWithIndex.foreach { case (t, i) =>
      val applied = applyStage(cur, t)
      require(applied.columns.contains(idColumn),
        s"audit requires stage ${t.name} to preserve column $idColumn — " +
          "terminal reshapes cannot be audited")
      val next = graft.Checkpoints.materialize(applied)
      audits += cur.select(col(idColumn))
        .join(next.select(col(idColumn)), Seq(idColumn), "left_anti")
        .withColumn("stage_idx", lit(i.toLong))
        .withColumn("dropped_by", lit(t.name))
      cur = next
    }
    val audit = audits.reduceOption(_.unionByName(_)).getOrElse(
      start.select(col(idColumn)).limit(0)
        .withColumn("stage_idx", lit(0L)).withColumn("dropped_by", lit("")))
    (cur, audit)
  }

  /** One config-driven curation stage (post-rename column names). */
  private def applyStage(df: DataFrame,
                         t: graft.config.TransformConfig): DataFrame = t match {
    case graft.config.TransformConfig.DedupExact(id, text) =>
      // representative ids, then a self-join to re-attach full rows
      graft.pipeline.Dedup.exactGroups(df, col(text), id)
        .select(col("keep_id").as(id))
        .join(df, Seq(id))
    case graft.config.TransformConfig.SourceCap(groups, id, text, k) =>
      graft.operators.Sampling.capPerGroup(df, groups,
          Seq(md5(col(text).cast("binary")), col(id)), k)
        .drop("rank_in_group")
    case graft.config.TransformConfig.Split(key, fractions, denom) =>
      graft.operators.Sampling.split(df, key, fractions, denom)
    case graft.config.TransformConfig.Normalize(text) =>
      df.withColumn(text, graft.pipeline.Text.normalize(col(text)))
    case graft.config.TransformConfig.SpanDedup(id, text, spanTokens, minDocs, keepFirst) =>
      // replace the text column with the cleaned text via a LEFT join
      // FROM the original frame, so the stage preserves input
      // multiplicity exactly like the other transform stages: null-id
      // rows (which a join can never match) keep their original text,
      // and the cleaned side is deduplicated per id — clean_text is
      // functionally determined by id (the reassembly is a groupBy(id))
      // — so duplicate ids cannot multiply rows
      val cleaned = graft.pipeline.Dedup
        .spanDedup(df, id, text, spanTokens, minDocs, keepFirst)
        .select(col(id), col("clean_text"))
        .dropDuplicates(id)
      df.join(cleaned, Seq(id), "left")
        .withColumn(text, coalesce(col("clean_text"), col(text)))
        .drop("clean_text")
        .select(df.columns.map(col).toIndexedSeq: _*)
    case graft.config.TransformConfig.HtmlExtract(text) =>
      df.withColumn(text, graft.pipeline.Web.stripMarkup(col(text)))
    case graft.config.TransformConfig.UrlCanon(u, hostC, domC, tracked) =>
      // canonicalize in place; host/domain derive from the canonical
      // form (urlHost lowercases anyway, so raw vs canon is identical)
      val canon = df.withColumn(u, graft.pipeline.Web.canonicalizeUrl(col(u),
        tracked.getOrElse(graft.pipeline.Web.DefaultTrackedParams.toList)))
      val hostExpr = graft.pipeline.Web.urlHost(col(u))
      val withHost = hostC.fold(canon)(h => canon.withColumn(h, hostExpr))
      domC.fold(withHost)(dc => withHost.withColumn(dc,
        graft.pipeline.Web.registeredDomain(hostC.map(col).getOrElse(hostExpr))))
    case graft.config.TransformConfig.LineDedup(id, text, minDup, minChars,
        segWords, censusDir, advance, advanceTag) =>
      // SpanDedup's re-attach contract; with segmentWords the SEGMENTED
      // text is the stage's view of the column (and the output's).
      // With censusDir the batch dedups INCREMENTALLY against the
      // persisted census (probe-then-advance — advancing first would
      // count the batch against itself twice); minLineChars then comes
      // from the census's own sidecar, not this config.
      val seg = if (segWords > 0)
        df.withColumn(text, graft.pipeline.Web.segmentLines(col(text), segWords))
      else df
      val deduped = censusDir match {
        case Some(dir) =>
          // with an advanceTag, retire the tag's previous delta FIRST:
          // a replayed run then probes the pre-epoch census and
          // republishes identically (end-state idempotent); without a
          // tag the read-merge-swap advance is at-least-once (see
          // LineDedup's scaladoc)
          advanceTag.foreach(tag =>
            graft.pipeline.Web.rollbackLineAdvance(df.sparkSession, dir, tag))
          // materialize the probe BEFORE advancing: the probe plan is
          // lazy and would otherwise read the census only at target-
          // write time — after the advance has already swapped it in,
          // double-counting the batch against itself
          val out = graft.Checkpoints.materialize(
            graft.pipeline.Web.lineDedupAgainst(dir,
              seg.select(col(id), col(text)), id, text, minDup))
          if (advance) advanceTag match {
            case Some(tag) => graft.pipeline.Web.advanceStagedLineCensus(
              seg.select(col(id), col(text)), id, text, dir, tag)
            case None => graft.pipeline.Web.advanceLineCensus(dir,
              seg.select(col(id), col(text)), id, text)
          }
          out
        case None =>
          graft.pipeline.Web.lineDedup(seg.select(col(id), col(text)),
            id, text, minDup, minChars)
      }
      val cleaned = deduped
        .select(col(id), col(text).as("__line_clean"))
        .dropDuplicates(id)
      seg.join(cleaned, Seq(id), "left")
        .withColumn(text, coalesce(col("__line_clean"), col(text)))
        .drop("__line_clean")
        .select(seg.columns.map(col).toIndexedSeq: _*)
    case graft.config.TransformConfig.LineFilter(id, text, minTok, anchors, minKept, segWords) =>
      // inner join: documents keeping fewer than minKeptLines lines drop
      val seg = if (segWords > 0)
        df.withColumn(text, graft.pipeline.Web.segmentLines(col(text), segWords))
      else df
      val kept = graft.pipeline.Web
        .lineQualityFilter(seg.select(col(id), col(text)), id, text,
          minTok, anchors, minKept)
        .select(col(id), col(text).as("__line_clean"))
        .dropDuplicates(id)
      seg.join(kept, Seq(id))
        .withColumn(text, col("__line_clean"))
        .drop("__line_clean")
        .select(seg.columns.map(col).toIndexedSeq: _*)
    case graft.config.TransformConfig.DupSpanCut(id, text, k, minCount) =>
      // same re-attach contract as SpanDedup: LEFT join from the
      // original frame preserves multiplicity and null-id rows; only
      // documents that actually lost a span are rewritten (everyone
      // else keeps the original text byte-for-byte — the cut side's
      // space-rejoined reassembly never touches clean docs)
      val cut = graft.pipeline.Dedup
        .cutDupSpans(df, id, text, k, minCount)
        .filter(col("n_tokens_kept") < col("n_tokens"))
        .select(col(id), col("text_cut"))
        .dropDuplicates(id)
      df.join(cut, Seq(id), "left")
        .withColumn(text, coalesce(col("text_cut"), col(text)))
        .drop("text_cut")
        .select(df.columns.map(col).toIndexedSeq: _*)
    case graft.config.TransformConfig.MinhashDedup(
        id, text, shingleSize, numHashes, bands, rowsPerBand, tNum, tDenom, keepLongest) =>
      // the full tier-2 near-dup path: signatures expression-side, LSH
      // banding for candidates, exact Jaccard verify, min-label
      // clustering; survivors are each cluster's min-id representative.
      // Shuffles carry (id, signature) / (id, band, bucket) — never text
      val sh = df.select(col(id), graft.pipeline.Dedup.shingles(text, shingleSize).as("__sh"))
        .withColumn("__sig",
          graft.pipeline.Dedup.minHashSignature(col("__sh"), numHashes))
      val candidates = graft.pipeline.Dedup
        .lshCandidates(sh, id, "__sig", bands, rowsPerBand)
      val verified = graft.pipeline.Dedup
        .verifyJaccard(candidates, sh, id, "__sh", tNum, tDenom)
        .select("id_a", "id_b")
      val labels = graft.pipeline.Dedup
        .clusterRepresentatives(df.select(col(id)), verified, id)
      // keeper policy: min id (default), or the LONGEST member per
      // cluster (what curation pipelines keep) via bestRepresentatives
      val reps =
        if (keepLongest)
          graft.pipeline.Dedup.bestRepresentatives(labels,
              df.select(col(id), length(col(text)).cast("long").as("__len")),
              id, "__len")
            .select(col("keep_id").as(id))
        else labels.filter(col("id") === col("rep")).select(col("id").as(id))
      df.join(reps, Seq(id), "left_semi")
    case graft.config.TransformConfig.SemanticDedup(id, vec, numPlanes, bandBits, threshold, seed) =>
      // dim probed from the data (one tiny job); planes are seed-fixed
      // so the stage is deterministic across runs and engines
      val dimProbe = df.select(size(col(vec))).limit(1).collect()
      require(dimProbe.nonEmpty, "semanticDedup stage: input frame is empty")
      val planes = graft.pipeline.Similarity.hyperplanes(
        numPlanes, dimProbe.head.getInt(0), seed)
      val kept = graft.pipeline.Similarity
        .semanticDedup(df.select(col(id), col(vec)), id, vec, planes, bandBits, threshold)
        .filter(col("is_kept"))
        .select(col(id))
      df.join(kept, Seq(id), "left_semi")
    case graft.config.TransformConfig.Decontaminate(id, text, refPath, n, minShared) =>
      val reference = sideInput(df.sparkSession,refPath)
      val contaminated = graft.pipeline.Dedup
        .decontaminate(df, reference, id, text, n)
        .filter(col("n_shared") >= minShared)
        .select(col(id))
      df.join(contaminated, Seq(id), "left_anti")
    case graft.config.TransformConfig.SemanticDecontaminate(vec, refPath, minDot) =>
      graft.pipeline.Similarity.semanticDecontaminate(df,
        sideInput(df.sparkSession,refPath), vec, minDot)
    case graft.config.TransformConfig.PiiScrub(text) =>
      df.withColumn(text, graft.pipeline.Text.redactPii(col(text)))
    case graft.config.TransformConfig.DsirFilter(id, text, tPath, tText, buckets, kn, kd) =>
      // target features only feed bucket TOTALS, so the target's row id
      // is a throwaway (monotonically_increasing_id — retry-instability
      // is harmless here; nothing rides the id)
      val tdocs = sideInput(df.sparkSession,tPath)
        .select(col(tText).as("__ttext"))
        .withColumn("__tid", monotonically_increasing_id())
      val tfeats = graft.pipeline.Text.dsirFeatures(tdocs, "__ttext", "__tid", buckets)
      val feats = graft.pipeline.Text.dsirFeatures(df, text, id, buckets)
      val weights = graft.pipeline.Text.dsirWeights(feats, tfeats, id, buckets)
      // keep the top keepNum/keepDenom by weight via an approx-percentile
      // cutoff (scalar broadcast) — no global sort; boundary ties keep
      val cut = weights.agg(percentile_approx(col("dsir_weight"),
        lit(1.0 - kn.toDouble / kd), lit(10000)).as("__cut"))
      val keepIds = weights.crossJoin(broadcast(cut))
        .filter(col("dsir_weight") >= col("__cut")).select(col(id))
      df.join(keepIds, Seq(id), "left_semi")
    case graft.config.TransformConfig.PplFilter(id, text, lang, buckets, keep, approx) =>
      val model = graft.pipeline.Text.termStats(df, text, id)
      val bucketed =
        if (approx) graft.pipeline.Text.pplBucketsApprox(df, text, id, lang, model,
          buckets = buckets)
        else graft.pipeline.Text.pplBuckets(df, text, id, lang, model,
          buckets = buckets)
      val keepIds = bucketed
        .filter(col("bucket").isin(keep: _*)).select(col(id))
      df.join(keepIds, Seq(id), "left_semi")
    case graft.config.TransformConfig.TokenBudget(group, key, tok, budget, shards) =>
      graft.operators.Sampling.tokenBudget(df, group, key, tok, budget, shards)
    case graft.config.TransformConfig.IncrDedup(id, text, refPath, refText) =>
      graft.pipeline.Dedup.newAgainst(df, text, id,
        sideInput(df.sparkSession,refPath), refText)
    case graft.config.TransformConfig.MixToTarget(key, group, weights, wDenom) =>
      graft.operators.Sampling.mixToTarget(df, key, group, weights.toMap, wDenom)
    case graft.config.TransformConfig.OutlierFilter(value, group, z) =>
      // the stage KEEPS the typical rows (curation drops the outliers);
      // restore the input schema exactly — flag + census are internal
      graft.operators.Moments.flagOutliers(df, value, group, z)
        .filter(!col("is_outlier"))
        .select(df.columns.map(col).toIndexedSeq: _*)
    case graft.config.TransformConfig.QualityFilter(text, minScore, b, ws, wp, wd, wt) =>
      graft.pipeline.Text.qualityFilter(df, text, minScore,
        graft.pipeline.Text.QualityWeights(b, ws, wp, wd, wt))
    case graft.config.TransformConfig.GopherFilter(text, minW, maxW, minL, maxL,
        alpha, sym, stop, top) =>
      graft.pipeline.Text.gopherFilter(df, text,
        graft.pipeline.Text.GopherRules(minW, maxW, minL, maxL, alpha, sym,
          stop, top))
    case graft.config.TransformConfig.RepetitionFilter(text, topPcts, dupPcts) =>
      graft.pipeline.Text.repetitionFilter(df, text,
        graft.pipeline.Text.RepetitionRules(
          topPcts.zipWithIndex.map { case (p, i) => (i + 2, p) },
          dupPcts.zipWithIndex.map { case (p, i) => (i + 5, p) }))
    case graft.config.TransformConfig.BlocklistFilter(text, termsPath, maxTerms) =>
      // wordlists are bounded (10²-10³ terms): read once, filter
      // scan-side via the phrase-capable literal-expression arm
      val terms = df.sparkSession.read.textFile(termsPath).collect().toSeq
      graft.pipeline.Text.blocklistFilter(df, text, terms, maxTerms)
    case graft.config.TransformConfig.SessionizeStage(keys, ts, gap, tieBreak) =>
      graft.operators.Sessionize.sessionize(df, keys, ts, gap, tieBreak.map(col))
    case graft.config.TransformConfig.FunnelStage(key, ts, typ, steps) =>
      // terminal reshape: whole-corpus conversion curve (step, step_type, n_reached)
      graft.operators.Funnel.stepCounts(df, key, ts, typ, steps)
    case graft.config.TransformConfig.RetentionStage(key, ts, bucketDays) =>
      // terminal reshape: cohort × offset retention grid
      graft.operators.Retention.cohortRetention(df, key, ts, bucketDays)
    case graft.config.TransformConfig.Scd2HistoryStage(
        key, ts, op, upsertOp, deleteOp, valueCols, tieBreak) =>
      // terminal reshape: CDC log -> versioned dimension history
      graft.operators.Scd2.buildHistory(df, key, ts, op, upsertOp, deleteOp,
        valueCols, tieBreak.map(col))
    case graft.config.TransformConfig.PitEnrichStage(historyPath, key, ts, valueCols) =>
      graft.operators.Scd2.pointInTime(df,
        sideInput(df.sparkSession,historyPath), key, ts, valueCols)
    case graft.config.TransformConfig.MergeSnapshotStage(snapshotPath, keys, deleteStale) =>
      // the piped frame is the MERGE source; the persisted snapshot is
      // the target. Column order aligns to the snapshot's (Merge requires
      // identical schemas); every non-key column updates from the source
      val snap = sideInput(df.sparkSession,snapshotPath)
      val src = df.select(snap.columns.map(col).toIndexedSeq: _*)
      val nonKeys = snap.columns.filterNot(keys.contains).toSeq
      graft.operators.Merge.merge(snap, src, keys,
        whenMatchedUpdateSet = nonKeys.map(c => c -> graft.operators.Merge.s(c)).toMap,
        whenNotMatchedInsert = true,
        whenNotMatchedBySourceDelete = if (deleteStale) Some(lit(true)) else None)
    case graft.config.TransformConfig.PhashDedupStage(id, payload, decoderName, maxDist, lenient) =>
      // decoder resolved HERE (driver) — the closure ships the instance,
      // executors never consult the registry (Multimodal contract);
      // lenient maps undecodable payloads to NULL hashes (they never
      // pair, so corrupt media survives the dedup instead of killing it)
      val decoder = graft.pipeline.MediaDecoders.get(decoderName)
      val hashes = graft.pipeline.Multimodal.perceptualHashes(
        df.select(col(id), col(payload)), id, payload, decoder, lenient)
      val pairs = graft.pipeline.Multimodal.phashNearDup(hashes, id, "phash", maxDist)
      // drop every row with a smaller-id near-duplicate (a_id < b_id by
      // construction: b_id is the loser); NULL payloads hash NULL and
      // never pair — they survive
      df.join(pairs.select(col("b_id").as(id)).distinct(), Seq(id), "left_anti")
    case graft.config.TransformConfig.Scd2AppendStage(
        historyPath, key, ts, op, upsertOp, deleteOp, valueCols, tieBreak) =>
      // terminal reshape: piped ops absorb into the persisted history
      graft.operators.Scd2.appendToHistory(
        sideInput(df.sparkSession,historyPath), df, key, ts, op,
        upsertOp, deleteOp, valueCols, tieBreak)
    case graft.config.TransformConfig.ConstraintGateStage(
        notNull, uniqueKey, minRows, maxRows, fkCol, fkRefPath, fkRefCol) =>
      // the one EAGER stage: a publish gate that doesn't evaluate is
      // not a gate. Builds the declared constraint set, runs the
      // report (one scalar-agg pass + optional unique agg + optional
      // FK anti-join), and fails the pipeline naming every violated
      // constraint with its exact violation count.
      import graft.validation.Constraints
      val cs = notNull.map(Constraints.NotNull(_)) ++
        (if (uniqueKey.nonEmpty) Seq(Constraints.Unique(uniqueKey)) else Nil) ++
        (if (fkCol.nonEmpty)
          Seq(Constraints.ForeignKey(fkCol,
            sideInput(df.sparkSession,fkRefPath), fkRefCol))
        else Nil) ++
        (if (minRows > 0 || maxRows != Long.MaxValue)
          Seq(Constraints.RowCountBetween(minRows, maxRows)) else Nil)
      val failed = Constraints.check(df, cs)
        .filter(!col("passed"))
        .select(col("constraint"), col("value"))
        .collect()
      if (failed.nonEmpty)
        throw new IllegalStateException("constraintGate failed: " + failed
          .map(r => s"${r.getString(0)} (${r.getLong(1)} violations)")
          .mkString(", "))
      df
    case graft.config.TransformConfig.SeqPack(id, text, budget, shardWidth) =>
      // terminal reshape: output is the packed-sequence layout
      graft.pipeline.Packing.packGreedy(
        df.select(col(id),
          graft.pipeline.Text.tokenCount(col(text)).cast("long").as("__n_tok")),
        id, "__n_tok", budget, shardWidth)
    case graft.config.TransformConfig.ResampleStage(key, rate, denom) =>
      graft.operators.Sampling.resampleByWeight(df, key, rate, denom)
    case graft.config.TransformConfig.LshDedupStage(
        ip, id, text, tn, td, mb, mh, adv, mpk, mpb) =>
      graft.pipeline.Dedup.NearDupStore.dropNearDups(df, id, text, ip,
        thresholdNum = tn, thresholdDenom = td, minBands = mb,
        minMatchingHashes = mh, advance = adv,
        maxPruneKeys = mpk, minPruneBytes = mpb)
    case graft.config.TransformConfig.AnnSearchStage(
        root, id, vec, k, np, ver, fPath, fCol, rPath, rKCand) =>
      // terminal reshape: piped rows are the queries, output is the
      // k-per-query hit list; models load once per stage application.
      // versioned roots resolve the _LATEST pointer once here — the
      // whole stage reads one immutable version even if a retrain
      // publishes mid-run
      val handle =
        if (ver) graft.pipeline.AnnIndex.openLatest(df.sparkSession, root)
        else graft.pipeline.AnnIndex.open(df.sparkSession, root)
      (fPath, fCol, rPath, rKCand) match {
        case (Some(p), Some(c), _, _) =>
          // filtered ANN: neighbor universe restricted to the id list
          // at filterPath, ranked among survivors (never post-filtered)
          graft.pipeline.AnnIndex.searchWhere(handle, df, id, vec, k, np,
            allowed = sideInput(df.sparkSession,p), allowedIdCol = c)
        case (_, _, Some(p), Some(kc)) =>
          // two-stage: ADC over-fetches kCand candidates, exact
          // squared-L2 on the true vectors at rerankPath decides order
          graft.pipeline.AnnIndex.searchRerank(handle, df,
            sideInput(df.sparkSession,p), id, vec, k, np, kc)
        case _ =>
          graft.pipeline.AnnIndex.search(handle, df, id, vec, k, np)
      }
    case graft.config.TransformConfig.AnnIngestStage(root, id, vec, tag) =>
      // passthrough side effect, EAGER at stage application: the piped
      // survivors appendEpoch into the index (exactly-once under the
      // tag — a re-run retires and redoes identically) and flow on
      // unchanged to the next stage / the target write
      graft.pipeline.AnnIndex.appendEpoch(
        graft.pipeline.AnnIndex.open(df.sparkSession, root), df, id, vec, tag)
      df
    case graft.config.TransformConfig.ForgetStage(store, root, idCol) =>
      // passthrough side effect: the piped rows ARE the RTBF batch —
      // the collect is capped (ForgetStage.MaxIds): requests, not
      // corpora; larger sets should be split into pipeline runs
      val cap = graft.config.TransformConfig.ForgetStage.MaxIds
      val keyRows = df.select(col(idCol)).filter(col(idCol).isNotNull)
        .distinct().limit(cap + 1).collect()
      require(keyRows.length <= cap,
        s"forget stage caps at $cap ids per run — split the RTBF batch")
      val ids: Seq[Any] = keyRows.toIndexedSeq.map(_.get(0))
      // the same store -> forget registry as the CLI's forget verbs
      graft.Maintain.forgets(store)(df.sparkSession, root, ids)
      df
    case graft.config.TransformConfig.RfmStage(key, ts, value, asOf, buckets) =>
      graft.operators.Rfm.scores(df, key, ts, value, to_date(lit(asOf)), buckets)
    case graft.config.TransformConfig.TransitionMatrixStage(key, ts, tpe, tie) =>
      graft.operators.Journeys.transitionMatrix(df, key, ts, tpe, tie.map(col))
    case graft.config.TransformConfig.AttributionStage(
        key, ts, tpe, conv, touches, tie) =>
      graft.operators.Journeys.attribution(df, key, ts, tpe, conv, touches,
        tie.map(col))
    case graft.config.TransformConfig.AnomalyStage(
        keys, order, value, window, minPoints, z, maxAbs) =>
      graft.operators.Anomaly.rollingZFlags(df, keys, order.map(col),
        value, window, minPoints, z, maxAbs)
    case graft.config.TransformConfig.WinsorizeStage(groups, value, pct, out, tier) =>
      if (tier == "approx")
        graft.operators.Winsorize.clipByQuantiles(df, groups, value, pct, out)
      else graft.operators.Winsorize.clipByRank(df, groups, value, pct, out)
    case graft.config.TransformConfig.IntervalJoinStage(
        rightPath, lLo, lHi, rLo, rHi, keys, bandWidth) =>
      val right = sideInput(df.sparkSession,rightPath)
      if (bandWidth > 0)
        graft.operators.IntervalJoin.overlapJoin(
          df, right, lLo, lHi, rLo, rHi, bandWidth, keys)
      else graft.operators.IntervalJoin.overlapJoinAuto(
        df, right, lLo, lHi, rLo, rHi, keys)
    case graft.config.TransformConfig.ComponentsStage(src, dst, maxIters) =>
      // terminal reshape: (id, rep); node set = the distinct endpoints
      val nodes = df.select(explode(array(col(src), col(dst))).as("id"))
        .filter(col("id").isNotNull).distinct()
      graft.operators.Graphs.connectedComponents(nodes, df, "id", src, dst, maxIters)
    case graft.config.TransformConfig.LinkExtract(html, href) =>
      // row multiplying: n links -> n rows, link-less pages drop
      df.withColumn(href,
        explode(graft.pipeline.Web.extractLinks(col(html))))
    case graft.config.TransformConfig.LexSearchStage(root, qid, term, k) =>
      // terminal reshape: piped rows are the bounded query batch
      graft.pipeline.LexIndex.search(df.sparkSession, root, df, qid, term, k)
    case graft.config.TransformConfig.RrfFuseStage(other, qid, id, rank, k, kRrf) =>
      // terminal reshape: piped ranking fused with the otherPath tier
      graft.pipeline.Retrieval.rrfFuse(df,
        sideInput(df.sparkSession,other), qid, id, rank, k, kRrf)
    case graft.config.TransformConfig.GraphEpochStage(root, src, dst, tag) =>
      // terminal reshape: epoch absorbed (idempotent under the tag's
      // retire-and-redo), then the store's served final ranks
      graft.pipeline.LinkGraph.appendEpoch(df, src, dst, root, tag)
      graft.pipeline.LinkGraph.ranks(df.sparkSession, root)
    case graft.config.TransformConfig.PageRankStage(src, dst, iters, dampingPct,
        dangling, seedsPath, seedCol) =>
      // terminal reshape: (id, rank_units). A seeds parquet switches
      // the recurrence to TrustRank (teleport restricted to the seeds
      // — the crawl source-selection prior)
      if (seedsPath.nonEmpty)
        graft.operators.Graphs.personalizedPageRank(df,
          sideInput(df.sparkSession,seedsPath), src, dst, seedCol,
          iters, dampingPct)
      else
        graft.operators.Graphs.pageRank(df, src, dst, iters, dampingPct,
          danglingRedistribute = dangling)
    case graft.config.TransformConfig.HitsStage(src, dst, iters) =>
      // terminal reshape: (id, auth_units, hub_units)
      graft.operators.Graphs.hits(df, src, dst, iters)
    case graft.config.TransformConfig.MmrStage(qid, id, score, vec, k, lam) =>
      // terminal reshape: the piped candidate ranking re-ranked for
      // diversity — (queryId, rank, id, mmr_score)
      graft.pipeline.Retrieval.mmrRerank(df, qid, id, score, vec, k, lam)
    case graft.config.TransformConfig.EvalRankingStage(tp, qid, id, rank, k, rel) =>
      // terminal reshape: per-query IR metrics of the piped ranking
      // against the judgment parquet
      graft.pipeline.Retrieval.evalRanking(df,
        sideInput(df.sparkSession,tp), qid, id, rank, k, rel)
    case graft.config.TransformConfig.TrianglesStage(src, dst) =>
      // terminal reshape: (vertex, n_triangles)
      graft.operators.Graphs.triangleCounts(df, src, dst)
    case graft.config.TransformConfig.ReachableStage(src, dst, rootsPath, rootCol, maxDepth) =>
      // terminal reshape: (root, vertex, depth)
      val roots = sideInput(df.sparkSession,rootsPath)
      graft.operators.Graphs.reachable(df, roots, rootCol, maxDepth, src, dst)
    case graft.config.TransformConfig.BitemporalStage(key, validTs, txTs, op,
        upsertOp, deleteOp, valueCols, validAt, txAt, tieBreak) =>
      // terminal reshape: (key, valid_ts, asserted_ts, values...);
      // the as-of literals adopt the log's own timestamp column types
      val vAt = lit(validAt).cast(df.schema(validTs).dataType)
      val tAt = lit(txAt).cast(df.schema(txTs).dataType)
      graft.operators.Scd2.bitemporalSnapshot(df, key, validTs, txTs, op,
        upsertOp, deleteOp, valueCols, vAt, tAt, tieBreak.map(col))
  }

  /** Repair: append source rows whose PK is absent from the target
    * (reference copyMissingRows, scylla/MySQLToScyllaValidator.scala:953-983
    * — left_anti then write; idempotent because only missing keys ship).
    * Returns the number of repaired rows.
    */
  def repairMissingRows(spark: SparkSession, cfg: PipelineConfig): Long = {
    val v = cfg.validation.getOrElse(
      throw new IllegalArgumentException("repair requires a validation block"))
    val targetPath = cfg.target match {
      case p: TargetConfig.Parquet if !p.versioned => p.path
      case p: TargetConfig.Parquet =>
        throw new IllegalArgumentException(
          "repair appends in place — versioned targets publish whole " +
            "snapshots instead (re-run the copy; the publish is atomic)")
      case other => throw new IllegalArgumentException(s"unsupported repair target: $other")
    }
    val src = transform(read(spark, cfg), cfg)
    val tgt = sideInput(spark, targetPath)
    val missing = graft.validation.Diff.missingInTarget(src, tgt, v.primaryKey)
    val appendCfg = cfg.copy(target = cfg.target match {
      case p: TargetConfig.Parquet => p.copy(mode = "append")
      case t => t
    })
    writeCounted(missing.select(tgt.columns.map(col).toIndexedSeq: _*), appendCfg)
  }

  /** Write and return the row count from an `observe` metric riding the
    * write job — one scan total, never a separate count() action (two
    * full passes is the difference between one day and two at 100 TB).
    */
  private def writeCounted(df: DataFrame, cfg: PipelineConfig): Long = cfg.target match {
    // RDD-driven sinks execute outside a SQL execution scope, so an
    // Observation would block forever (no SQLExecutionEnd event ever
    // fires to release it); their exact row counts come from the
    // sink's own manifest instead — still one pass over the data
    case t: TargetConfig.TarShards => writeTarShards(df, t)
    case TargetConfig.DynamoS3Export(path) => DdbTables.writeS3Export(df, path)
    case _ =>
      val obs = org.apache.spark.sql.Observation()
      write(df.observe(obs, count(lit(1)).as("rows")), cfg)
      obs.get("rows").asInstanceOf[Long]
  }

  private def writeTarShards(df: DataFrame, t: TargetConfig.TarShards): Long = {
    // string payloads export directly (text corpus -> sample shards);
    // true binary columns pass through the cast unchanged
    val manifest = graft.sources.TarShards.write(
      df.withColumn(t.payloadColumn, col(t.payloadColumn).cast("binary")),
      t.keyColumn, t.payloadColumn, t.path,
      t.maxShardBytes, t.numShards, t.suffix)
    // the manifest is driver-resident already (one row per shard);
    // both actions below just replay a parallelize
    manifest.coalesce(1).write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(t.path, "_manifest").toString)
    manifest.agg(coalesce(sum(col("n_entries")), lit(0L)))
      .collect().head.getLong(0)
  }

  def write(df: DataFrame, cfg: PipelineConfig): Unit = cfg.target match {
    case TargetConfig.Parquet(path, mode, compression, partitionBy, sortBy, maxRecords, globalSortBy, _, versioned, zorderBy, zorderFiles, _) =>
      // sortWithinPartitions clusters each output file on the sort key:
      // parquet min/max row-group stats then let downstream scans skip
      // row groups on those columns (data-skipping without a shuffle).
      // globalSortBy adds the one range exchange that buys a TOTAL order
      // across files (range partitioner samples the key distribution, so
      // skewed keys still split evenly). zorderBy interleaves 2+ integer
      // dimensions so EITHER one prunes (pair with target.statsIndex) —
      // one small range-probe aggregation scales each dimension to the
      // same bit width before the range exchange
      val sorted =
        if (zorderBy.nonEmpty) {
          val probes = zorderBy.flatMap(c =>
            Seq(min(col(c).cast("long")).as(s"__lo_$c"),
              max(col(c).cast("long")).as(s"__hi_$c")))
          val row = df.agg(probes.head, probes.tail: _*).collect().head
          val dims = zorderBy.zipWithIndex.map { case (c, i) =>
            if (row.isNullAt(2 * i) || row.getLong(2 * i) >= row.getLong(2 * i + 1))
              lit(0L) // empty frame or constant column: degenerate dimension
            else graft.operators.ZOrder.scaleTo(col(c),
              row.getLong(2 * i), row.getLong(2 * i + 1), 16)
          }
          // zorderFiles pins the range-partition count (0 = engine/AQE
          // decides; AQE coalesces tiny inputs to one file, which is
          // right at scale and surprising in tests)
          graft.operators.ZOrder.clusterBy(df,
            graft.operators.ZOrder.zValue(dims, 16), zorderFiles)
        }
        else if (globalSortBy.nonEmpty)
          df.repartitionByRange(globalSortBy.map(col): _*)
            .sortWithinPartitions(globalSortBy.map(col): _*)
        else if (sortBy.nonEmpty) df.sortWithinPartitions(sortBy.map(col): _*)
        else df
      def writeDir(dir: String, m: String): Unit = {
        var w = sorted.write.mode(m).option("compression", compression)
        // per-write option (not a session conf): bounds file size without
        // a shuffle — the writer rolls files mid-task
        if (maxRecords > 0) w = w.option("maxRecordsPerFile", maxRecords)
        (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dir)
      }
      if (versioned)
        // snapshot publish: the full writer options apply to the new
        // immutable version dir; the pointer swaps only after it is
        // completely written (mode is irrelevant — dir is fresh)
        graft.sources.Versioned.publishWith(df.sparkSession, path)(
          dir => writeDir(dir, "errorifexists")): Unit
      else writeDir(path, mode)
    case TargetConfig.DynamoS3Export(path) =>
      DdbTables.writeS3Export(df, path); ()
    case t: TargetConfig.TarShards =>
      writeTarShards(df, t); ()
    case TargetConfig.Csv(path, mode, header, delimiter, compression) =>
      df.write.mode(mode).option("header", header.toString)
        .option("delimiter", delimiter).option("compression", compression)
        .csv(path)
    case TargetConfig.Json(path, mode, compression) =>
      df.write.mode(mode).option("compression", compression).json(path)
    case TargetConfig.Orc(path, mode, compression) =>
      df.write.mode(mode).option("compression", compression).orc(path)
  }

  /** The directory holding a parquet target's data: the just-published
    * immutable version dir for versioned targets, the plain path
    * otherwise.
    */
  private def resolvedDataDir(spark: SparkSession, p: TargetConfig.Parquet): String =
    if (p.versioned)
      graft.sources.Versioned.latestVersion(spark, p.path)
        .map(n => new org.apache.hadoop.fs.Path(p.path, f"v_$n%010d").toString)
        .getOrElse(p.path)
    else p.path

  /** The post-copy tail of [[run]] and [[runWithStageMetrics]], in
    * order: compaction (the resumable loop's per-batch appends fragment
    * the table), then the file-level stats index (built once over the
    * whole copy, so it describes the files that will actually be read),
    * then the validation diff. Versioned targets address the
    * just-published immutable version directory.
    */
  private def afterCopy(spark: SparkSession, cfg: PipelineConfig): Option[DataFrame] =
    cfg.target match {
      case p: TargetConfig.Parquet =>
        val dir = resolvedDataDir(spark, p)
        if (p.compactTargetBytes > 0)
          graft.sources.Compaction.compact(spark, dir, p.compactTargetBytes)
        if (p.statsIndexColumns.nonEmpty)
          graft.sources.FileStatsIndex.buildAndSave(spark, dir, p.statsIndexColumns)
        cfg.validation.map { v =>
          // validate against the FULL source: skipFiles marks files already
          // copied by a previous run — their rows ARE in the target, so a
          // skipping read would misreport them as extra_target on a correct
          // resumed copy (and throw if every file was already copied)
          val src = transform(read(spark, cfg.copy(skipFiles = Set.empty)), cfg)
          Diff.fullDiff(src, sideInput(spark, dir), v.primaryKey, v.compareColumns)
            .filter(col("diff_kind") =!= "match")
            .limit(v.failuresToFetch)
        }
      case _ => None
    }

  /** `run` plus a per-stage row-count report — the lineage question an
    * operator asks a curation pipeline ("which stage dropped 40% of
    * the corpus?") answered for FREE: each stage boundary carries an
    * `observe()` count that rides the one write action, so the report
    * costs zero extra scans. Entries: ("source", n) after
    * read+renames, then one (stageName, n) per configured transform in
    * order. Non-resumable configs only (the per-batch loop would need
    * one observation set per batch; use plain `run` there).
    */
  def runWithStageMetrics(spark: SparkSession,
                          cfg: PipelineConfig): (Result, Seq[(String, Long)]) = {
    require(cfg.savepointsDir.isEmpty,
      "stage metrics require a non-resumable run (no savepoints.dir)")
    // TarShards and the S3-export sink execute through .rdd actions, so
    // a SQLExecutionEnd never fires for the observed plan and every
    // o.get() below would block FOREVER — reject instead of hanging
    cfg.target match {
      case _: TargetConfig.TarShards | _: TargetConfig.DynamoS3Export =>
        throw new IllegalArgumentException(
          "stage metrics require a SQL-executed sink (parquet/csv/json/orc): " +
            "RDD-driven sinks never complete an Observation — use run()")
      case _ => ()
    }
    // Observation records metrics from the FIRST action that executes
    // the observed plan. A stage that probes its input with a
    // short-circuiting action during construction (semanticDedup's
    // limit(1) dim probe) would execute the upstream observe() nodes
    // partially and permanently register truncated counts for every
    // earlier stage — reject those configs instead of mis-reporting.
    // (Stages that EAGERLY but FULLY materialize — the minhash
    // checkpoint, the constraint-gate aggregate — observe every row
    // and stay accurate.)
    cfg.transforms.foreach {
      case s: graft.config.TransformConfig.SemanticDedup =>
        throw new IllegalArgumentException(
          s"stage ${s.name} probes its input with a partial action and " +
            "would corrupt upstream stage counts — use run() for this config")
      case _ => ()
    }
    val observations = scala.collection.mutable.Buffer[(String, org.apache.spark.sql.Observation)]()
    def observed(name: String, df: DataFrame): DataFrame = {
      val o = org.apache.spark.sql.Observation()
      observations += name -> o
      df.observe(o, count(lit(1)).as("n"))
    }
    var df = observed("source",
      Relational.applyRenames(read(spark, cfg), cfg.renames))
    cfg.transforms.zipWithIndex.foreach { case (t, i) =>
      df = observed(s"${i + 1}:${t.name}", applyStage(df, t))
    }
    val rows = writeCounted(df, cfg)
    val metrics = observations.toSeq.map { case (name, o) =>
      name -> o.get("n").asInstanceOf[Long]
    }
    (Result(rows, Set.empty, afterCopy(spark, cfg)), metrics)
  }

  /** Continue a killed resumable run: load the completed-file set from
    * the NEWEST savepoint under `savepoints.dir` and re-enter [[run]]
    * with it merged into `skipFiles`. Already-copied batches are
    * skipped (their rows are durable in the target — the batch loop
    * always appends), remaining batches process normally, and because
    * file batching is deterministic the union of both runs' outputs
    * equals one uninterrupted run's. This is the reference's restart
    * contract (savepoints config re-read on startup) as one call.
    */
  def resume(spark: SparkSession, cfg: PipelineConfig,
             fileBatchSize: Int = 64,
             onSkipSetLoaded: Int => Unit = _ => ()): Result = {
    val dir = cfg.savepointsDir.getOrElse(throw new IllegalArgumentException(
      "resume requires savepoints.dir"))
    val done = SavepointsManager.loadLatest(
      dir, spark.sparkContext.hadoopConfiguration)
    // callers report progress through the hook rather than re-reading
    // the newest savepoint themselves (one filesystem read, not two)
    onSkipSetLoaded(done.size)
    run(spark, cfg.copy(skipFiles = cfg.skipFiles ++ done), fileBatchSize)
  }

  /** Copy with optional file-level resume (parquet sources) and a final
    * validation diff. Batch writes append so each completed batch is
    * durable before its savepoint is recorded.
    */
  def run(spark: SparkSession, cfg: PipelineConfig, fileBatchSize: Int = 64,
          afterBatch: Int => Unit = _ => ()): Result = {
    val completed = new StringSetAccumulator
    spark.sparkContext.register(completed, "completedFiles")
    val manager = cfg.savepointsDir.map(dir => new SavepointsManager(
      dir, () => (cfg.skipFiles ++ completed.value).toSeq.sorted.mkString("\n"),
      hadoopConf = spark.sparkContext.hadoopConfiguration).start())
    var rows = 0L
    var batchIdx = 0
    // the schema the parquet target was written with — returned so
    // callers can read the target back without a footer-inference job.
    // Only pinned for unpartitioned parquet targets: partitionBy moves
    // partition columns to the end and re-infers their types on read.
    var outSchema: Option[org.apache.spark.sql.types.StructType] = None
    def noteSchema(df: DataFrame): DataFrame = {
      cfg.target match {
        case p: TargetConfig.Parquet if p.partitionBy.isEmpty =>
          outSchema = Some(df.schema)
        case _ => ()
      }
      df
    }
    try {
      cfg.source match {
        case SourceConfig.Parquet(path, where, columns, false, _, mergeSchema) if cfg.savepointsDir.isDefined =>
          // resumable path: deterministic file batches, append per batch
          ParquetSource.processInBatches(spark, path, cfg.skipFiles, fileBatchSize,
              mergeSchema = mergeSchema) { batch =>
            var df = where.fold(batch)(w => batch.filter(expr(w)))
            df = columns.fold(df)(cs => Relational.selectResolved(df, cs))
            df = noteSchema(transform(df, cfg))
            val appendCfg = cfg.copy(target = cfg.target match {
              case p: TargetConfig.Parquet => p.copy(mode = "append")
              case t => t
            })
            rows += writeCounted(df, appendCfg)
          } { files =>
            files.foreach(completed.add); manager.foreach(_.dump())
            // between-batches crash-injection point for kill-resume specs:
            // the batch is appended AND its savepoint durably recorded, so a
            // throw here is exactly "the process died between batches"
            batchIdx += 1; afterBatch(batchIdx)
          }
        case _ =>
          rows = writeCounted(noteSchema(transform(read(spark, cfg), cfg)), cfg)
      }
    } finally manager.foreach(_.close())

    Result(rows, completed.value, afterCopy(spark, cfg), outSchema)
  }
}
