package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted lexical retrieval index — the posting-list twin of
  * [[AnnIndex]]: build once over a corpus, append crawl epochs
  * exactly-once, answer bounded query batches, forget on demand.
  *
  * Layout: `root/postings` holds `(term, id, dl, tf)` — one row per
  * (document, term), term-range-clustered so a query batch's IN-list
  * filter prunes file/row-group reads to the terms actually queried;
  * `root/_lex.json` pins the analyzer (whitespace tokens, the
  * [[Text.tokens]] contract) so search tokenization can never drift
  * from what was indexed.
  *
  * Ranking is the library's integer-exact retrieval contract
  * ([[Text.retrievalTopK]]: n_matched desc, sum_tf desc, id asc) — a
  * persisted-index search returns EXACTLY what the in-plan postings
  * join returns over the same corpus (q_lex_search and LexIndexSpec
  * pin it), and no float ever decides an ordering, so any engine
  * reproduces the hit list bit-for-bit. BM25 scoring stays a
  * downstream concern ([[Text.bm25]]) where float tolerance is the
  * caller's choice.
  *
  * Scale shape: search reads the postings of the QUERY'S terms only
  * (pushed In-filter under the inline cap; a broadcast semi-join
  * beyond it), joins against the bounded query set, and ranks with
  * per-partition `WindowGroupLimit` pushdown — cost ∝ the queried
  * terms' posting lists, never the corpus. Append cost ∝ the batch:
  * the delta check probes the id census sidecar
  * ([[graft.sources.IdCensus]], stats-pruned point lookups — the
  * [[AnnIndex.appendEpoch]] discipline), never the full postings id
  * column. BM25 corpus stats (N, Σdl) are PINNED in per-epoch
  * `_corpus/` artifacts maintained at create/append/forget time, so
  * the scored search does no corpus-sized stats work in-plan at all.
  */
object LexIndex {

  private def postingsDir(root: String) = root + "/postings"
  private def metaPath(root: String) = root + "/_lex.json"
  private def corpusDir(root: String) = root + "/_corpus"

  /** One (id, dl, terms) row per indexed document — derived from
    * postings rows (dl is constant per id by construction; terms is
    * the doc's distinct term set, canonically sorted). This is the
    * census payload, the BM25 stats source, AND the forward index
    * [[forget]] needs: the postings table clusters by TERM, so
    * deleting a document without knowing its terms is a table scan —
    * with them it is a cluster-key-pruned pair-delete. The terms
    * array makes the census postings-sized (the standard
    * forward-index space trade every deletable inverted index pays);
    * delta detection stays cheap because it column-prunes to `id`.
    */
  private def censusOf(postings: DataFrame): DataFrame =
    postings.groupBy(col("id")).agg(max(col("dl")).as("dl"),
      sort_array(collect_set(col("term"))).as("terms"))

  /** Atomic (tmp+rename) write of one corpus-stats contribution:
    * `{"n":…,"sumdl":…}`. `name` is `base` or `epoch-<tag>` — the sum
    * over all files under `_corpus/` is the live (N, Σdl).
    */
  private def writeCorpusStats(spark: SparkSession, root: String, name: String,
                               n: Long, sumdl: Long): Unit =
    graft.sources.StoreTables.writeSmall(spark, s"${corpusDir(root)}/$name.json",
      s"""{"n":$n,"sumdl":$sumdl}""")

  private def deleteCorpusStats(spark: SparkSession, root: String,
                                name: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(corpusDir(root), s"$name.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
    ()
  }

  private val statsPat = """\{"n":(-?\d+),"sumdl":(-?\d+)\}""".r

  private def readStatsFile(fs: org.apache.hadoop.fs.FileSystem,
                            p: org.apache.hadoop.fs.Path): (Long, Long) = {
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    body.trim match {
      case statsPat(a, b) => (a.toLong, b.toLong)
      case other => throw new IllegalStateException(
        s"malformed corpus stats file $p: $other")
    }
  }

  /** Absorb every per-epoch stats contribution into `base.json`,
    * crash-safe at every intermediate state. The hazard a naive
    * read-delete-write order carries: a crash between the deletes and
    * the base rewrite loses the deleted contributions from the live
    * (N, Σdl) — and the auto-compact recovery that re-runs the fold
    * re-reads the now-partial file set, baking the loss in. Protocol:
    * (1) if no staging file (`fold.tmp`) exists, sum ALL `.json`
    * contributions and write the total to staging atomically; if one
    * exists, it IS the authority — a prior fold already started
    * deleting, so a recompute would undercount. (2) delete every
    * `.json` contribution. (3) promote staging to `base.json` and drop
    * it. [[readCorpusStats]] honors a live staging file for the same
    * reason, so mid-fold reads (a search between a crash and its
    * recovery) stay exact. Idempotent from any crash point.
    */
  private[graft] def foldCorpusStats(spark: SparkSession, root: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(corpusDir(root))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    val staging = new org.apache.hadoop.fs.Path(dir, "fold.tmp")
    val (n, sumdl) =
      if (fs.exists(staging)) readStatsFile(fs, staging)
      else {
        val total = fs.listStatus(dir).map(_.getPath)
          .filter(_.getName.endsWith(".json"))
          .foldLeft((0L, 0L)) { case ((a, s), p) =>
            val (pn, ps) = readStatsFile(fs, p); (a + pn, s + ps)
          }
        graft.sources.StoreTables.writeSmall(spark, staging.toString,
          s"""{"n":${total._1},"sumdl":${total._2}}""")
        total
      }
    fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".json"))
      .foreach(fs.delete(_, false))
    writeCorpusStats(spark, root, "base", n, sumdl)
    fs.delete(staging, false)
    ()
  }

  private def statsFromCensus(spark: SparkSession, root: String): (Long, Long) = {
    val r = graft.sources.IdCensus.readAll(spark, root)
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sumdl"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Migration for pre-sidecar stores: derive census and stats from
    * the postings' own ground truth, once, on first touch.
    */
  private def ensureSidecars(spark: SparkSession, root: String): Unit = {
    graft.sources.IdCensus.ensureFrom(spark, root,
      censusOf(spark.read.parquet(postingsDir(root))), rowsPerFileOf(spark, root))
    val dir = new org.apache.hadoop.fs.Path(corpusDir(root))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) {
      val (n, sumdl) = statsFromCensus(spark, root)
      writeCorpusStats(spark, root, "base", n, sumdl)
    }
  }

  /** Live (N, Σdl) of the indexed corpus: the driver-side sum of the
    * `_corpus/` contribution files — file count = epoch count since
    * the last compact, never corpus-sized.
    */
  def readCorpusStats(spark: SparkSession, root: String): (Long, Long) = {
    ensureSidecars(spark, root)
    val dir = new org.apache.hadoop.fs.Path(corpusDir(root))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a live stats-fold staging file is the authority: once a fold has
    // begun deleting contributions, the remaining .json set undercounts
    // (see foldCorpusStats) — the staging total is the exact pre-fold sum
    val staging = new org.apache.hadoop.fs.Path(dir, "fold.tmp")
    if (fs.exists(staging)) return readStatsFile(fs, staging)
    fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".json"))
      .foldLeft((0L, 0L)) { case ((n, s), p) =>
        val (pn, ps) = readStatsFile(fs, p)
        (n + pn, s + ps)
      }
  }

  /** (term, id, dl, tf) posting rows of a document frame. Null-id
    * docs are ignored; duplicate ids merge (ids are expected unique).
    */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"),
        size(Text.tokens(col(textCol))).cast("long").as("dl"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))
      .select(col("term"), col("id"), col("dl"), col("tf"))

  /** The postings' file-granularity policy, pinned in `_lex.json` at
    * create time ([[graft.sources.StoreTables.rowsPerFileOf]]).
    */
  def rowsPerFileOf(spark: SparkSession, root: String): Long =
    graft.sources.StoreTables.rowsPerFileOf(spark, metaPath(root))

  val DefaultRowsPerFile: Long = graft.sources.StoreTables.DefaultRowsPerFile

  /** Postings as a store table: term-clustered, sorted `(term, id)`,
    * capped at the pinned granularity, minor folds sharded at 2M rows.
    * Postings rows never span epochs, so the resolve is identity.
    */
  private def postingsTable(root: String, g: Long) =
    graft.sources.StoreTables.Table(postingsDir(root), "term",
      sortBy = Seq("term", "id"), rowsPerFile = g, shardRows = 2000000L)

  /** The index's store tables ([[graft.sources.StoreTables]]): postings
    * and the id census, with the per-epoch corpus-stats contributions
    * folding into base on the same cadence — once a tag's postings
    * names are gone, a replayed tag's `deleteCorpusStats` must find
    * nothing to delete, or the replay silently drops an absorbed
    * contribution from the live (N, Σdl).
    */
  def tables(spark: SparkSession, root: String): graft.sources.StoreTables.Store = {
    requireIndex(spark, root)
    val g = rowsPerFileOf(spark, root)
    graft.sources.StoreTables.Store(root,
      Seq(postingsTable(root, g), graft.sources.IdCensus.table(root, g)),
      foldCorpusStats(_, root))
  }

  /** Validated, de-nulled (queryId, term) pairs: the term column must
    * be StringType up front (a non-string column would otherwise fail
    * with an opaque driver-side ClassCastException at the inline-terms
    * collect), and null terms — which can never match a posting under
    * SQL equality — are dropped explicitly rather than silently.
    */
  private def queryTerms(queries: DataFrame, queryIdCol: String,
                         termCol: String): DataFrame = {
    val tt = queries.schema(termCol).dataType
    require(tt == org.apache.spark.sql.types.StringType,
      s"term column '$termCol' must be string, got ${tt.simpleString} — " +
        "cast it before searching")
    queries.filter(col(termCol).isNotNull)
      .select(col(queryIdCol), col(termCol).as("term")).distinct()
  }

  def create(docs: DataFrame, idCol: String, textCol: String, root: String,
             rowsPerFile: Long = DefaultRowsPerFile): Unit = {
    val spark = docs.sparkSession
    require(rowsPerFile >= 1L, "rowsPerFile must be >= 1")
    // with the term stats artifact: planning-time file pruning for
    // forget's pair-deletes — advisory, unknown files always kept
    graft.sources.StoreTables.create(spark, postingsTable(root, rowsPerFile),
      postingsOf(docs, idCol, textCol), "errorifexists")
    // sidecars from the WRITTEN postings (the ground truth): id census
    // for batch-proportional delta checks, pinned (N, Σdl) for BM25
    graft.sources.IdCensus.create(spark, root,
      censusOf(spark.read.parquet(postingsDir(root))), rowsPerFile)
    val (n, sumdl) = statsFromCensus(spark, root)
    writeCorpusStats(spark, root, "base", n, sumdl)
    graft.sources.StoreTables.writeSmall(spark, metaPath(root),
      s"""{"analyzer":"ws","rowsPerFile":$rowsPerFile}""")
  }

  private def requireIndex(spark: SparkSession, root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(metaPath(root))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no lex index at $root (missing ${metaPath(root)})")
  }

  /** Exactly-once epoch append: NEW documents' postings land under the
    * tag's deterministic file names ([[graft.sources.EpochFiles]]);
    * already-indexed ids are dropped by a column-pruned anti-join, so
    * a replayed epoch (same tag, overlapping batch) retires its own
    * files and republishes the SAME delta. A (doc, term) row never
    * spans epochs, so reads need no fold.
    */
  def appendEpoch(batch: DataFrame, idCol: String, textCol: String,
                  root: String, tag: String): Unit = {
    val spark = batch.sparkSession
    // restore the pre-epoch postings, census and stats contribution
    // (an interrupted auto-compact completes first — retiring a
    // completed epoch's surviving per-tag files from half-folded
    // tables would lose rows the folded tables keep)
    graft.sources.StoreTables.rollback(spark, tables(spark, root), tag, redo = true)
    deleteCorpusStats(spark, root, s"epoch-$tag")
    ensureSidecars(spark, root)
    // membership via the census sidecar: stats-pruned point lookups,
    // cost ∝ batch — never the full postings id column + distinct
    // this path used to pay per micro-batch
    val known = graft.sources.IdCensus.known(spark, root, batch, idCol)
      .select(col("id").as(idCol))
    val delta = postingsOf(batch.join(known, Seq(idCol), "left_anti"),
      idCol, textCol).persist()
    val store = tables(spark, root)
    val Seq(postings, census) = store.tables
    try {
      // delta-sized shards at the store's pinned granularity: batch
      // rows land in few term-contiguous files, each split at
      // rowsPerFile so later probes never sweep more than a granule
      graft.sources.StoreTables.publish(spark, store, postings, delta, tag,
        Some(delta.count()))
      // census + stats publish second, under the SAME tag: a crash
      // between publishes is repaired by replaying the tag (the
      // rollback above restores the pre-epoch triple)
      val cen = censusOf(delta).persist()
      try {
        val r = cen.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).collect()(0)
        if (r.getLong(0) > 0) {
          graft.sources.StoreTables.publish(spark, store, census, cen, tag,
            Some(r.getLong(0)))
          writeCorpusStats(spark, root, s"epoch-$tag", r.getLong(0), r.getLong(1))
        }
      } finally { cen.unpersist(); () }
    } finally { delta.unpersist(); () }
    // the epoch is SETTLED here — the auto-compact policy may run the
    // MINOR fold (override files + stats contributions only, I/O ∝
    // override bytes) without violating the per-tag-name caveat; a
    // replay after the fold is a clean no-op because the census still
    // knows every id and the stats contribution is absorbed into base
    graft.sources.StoreTables.autoCompact(spark, store)
    ()
  }

  /** Remove a tag's published postings, census rows and staging
    * leftovers ([[graft.sources.StoreTables.rollback]]), then its
    * corpus-stats contribution.
    */
  def rollbackEpoch(spark: SparkSession, root: String, tag: String): Unit = {
    graft.sources.StoreTables.rollback(spark, tables(spark, root), tag)
    deleteCorpusStats(spark, root, s"epoch-$tag")
  }

  /** MAJOR fold: postings and census back into one globally clustered
    * table each, stats contributions into one base
    * ([[graft.sources.StoreTables.recluster]]; search-invariant —
    * LexIndexSpec pins it).
    */
  def compact(spark: SparkSession, root: String): Unit =
    graft.sources.StoreTables.recluster(spark, tables(spark, root))

  /** Re-derive both sidecars (id census, corpus stats) from the
    * postings' ground truth — the repair arm for out-of-protocol
    * surgery. One postings scan; never needed on the epoch path,
    * whose tag replay repairs itself.
    */
  def rebuildSidecars(spark: SparkSession, root: String): Unit = {
    requireIndex(spark, root)
    graft.sources.IdCensus.create(spark, root,
      censusOf(spark.read.parquet(postingsDir(root))), rowsPerFileOf(spark, root))
    val dir = new org.apache.hadoop.fs.Path(corpusDir(root))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    val (n, sumdl) = statsFromCensus(spark, root)
    writeCorpusStats(spark, root, "base", n, sumdl)
  }

  /** Right-to-be-forgotten: a forgotten document's postings go through
    * the crash-safe targeted rewrite; it stops being retrievable and —
    * via the append delta check — can be re-admitted later. The census
    * forgets too, and the corpus stats are re-pinned from the
    * post-delete census (consolidated into `base`). Same between-epochs
    * caveat as [[compact]].
    */
  def forget(spark: SparkSession, root: String,
             ids: Seq[Any]): graft.sources.TargetedDelete.Result = {
    requireIndex(spark, root)
    ensureSidecars(spark, root)
    // the postings cluster by TERM — an id-delete cannot prune — but
    // the census's forward terms array knows exactly which (term, id)
    // pairs are doomed: derive them from a stats-pruned census point
    // read (BEFORE any mutation, so crash re-runs re-derive) and
    // pair-delete with files pruned by the cluster key. The census is
    // read under mergeSchema: a store whose census PREDATES the
    // forward column and then received terms-bearing epochs is a
    // MIXED directory, and a plain read's schema (hence whether
    // `terms` even appears, hence which branch runs) would depend on
    // which footer Spark sampled. Under the union schema the split is
    // per-ROW instead: ids whose census row carries terms pair-delete;
    // ids with a null terms array (pre-forward census rows) route to
    // the id-scan fallback — NEVER silently dropped from the pair list
    // (the silent-retention hole: postings that outlive their census
    // row are afterwards undetectable). Oversized batches/pair lists
    // take the scan for everything.
    val census = graft.sources.KeyedReads.prunedRead(spark,
      graft.sources.IdCensus.rowsDir(root), "id", ids.toArray,
      mergeSchema = true)
    val terms = Some(census).filter(_.columns.contains("terms"))
    val r = graft.sources.StoreTables.forget(spark,
      postingsTable(root, rowsPerFileOf(spark, root)), "id", ids,
      pairs = terms.map(_.filter(col("terms").isNotNull)
        .select(col("id"), explode(col("terms")).as("term"))
        .select(col("term"), col("id")).distinct()),
      bare = terms.map(_.filter(col("terms").isNull).select(col("id")).distinct()))
    graft.sources.IdCensus.forget(spark, root, ids)
    val (n, sumdl) = statsFromCensus(spark, root)
    val dir = new org.apache.hadoop.fs.Path(corpusDir(root))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir))
      fs.listStatus(dir).map(_.getPath)
        .filter(p => p.getName.endsWith(".json") && p.getName != "base.json")
        .foreach(fs.delete(_, false))
    writeCorpusStats(spark, root, "base", n, sumdl)
    r
  }

  /** BM25-scored top-k per query from the persisted index (the scored
    * read; [[search]] is the integer-exact one). Corpus stats (N,
    * Σdl) come from the index's PINNED `_corpus/` artifacts —
    * maintained at create/append/forget time, summed driver-side, and
    * injected as literals, so the plan does NO corpus-sized stats work
    * per query batch (and no scalar-row cross join); df per term from
    * the PRUNED postings. The scores equal [[Text.bm25]] over the
    * indexed corpus, with N = documents that produced at least one
    * token. Output is rank-gated like q_bm25: `(queryIdCol, rank, id,
    * n_matched, dl)` — the float score orders (desc, id asc) but is
    * never emitted, so engines can replay the ranking without
    * float-hash hazards.
    */
  /** Postings rows matching a bounded query-term set, with the file
    * list planned from the `_stats` artifact BEFORE the scan
    * ([[graft.sources.KeyedReads.prunedRead]]'s two-layer read): a
    * footer-planned `isin` scan opens EVERY file's footer, so probe
    * bytes grow with the table's FILE COUNT under epoch accumulation
    * even when the matched row groups stay constant — measured 3.5× at
    * 10× on a granularity-pinned store, the one growth mode the
    * rows-per-file policy cannot remove (file count ∝ corpus is by
    * design). Artifact-planned, the probe opens only the files whose
    * term range matches, and the artifact itself is served from the
    * session stats cache. Over-cap term sets fall back to the
    * broadcast semi-join against a full scan (same rows, no pruning).
    */
  private def prunedPostings(spark: SparkSession, root: String, q: DataFrame,
                             maxInlineTerms: Int,
                             materialize: Boolean = true): DataFrame = {
    val terms = q.select(col("term")).distinct()
    val inline = terms.limit(maxInlineTerms + 1).collect().map(_.getString(0))
    if (inline.length <= maxInlineTerms)
      graft.sources.KeyedReads.prunedRead(spark, postingsDir(root), "term",
        inline.map(x => x: Any), materialize = materialize)
    else spark.read
      .schema(graft.sources.KeyedReads.schemaFor(spark, postingsDir(root)))
      .parquet(postingsDir(root))
      .join(broadcast(terms), Seq("term"), "left_semi")
  }

  def bm25Search(spark: SparkSession, root: String, queries: DataFrame,
                 queryIdCol: String, termCol: String, k: Int,
                 k1: Double = 1.2, b: Double = 0.75,
                 maxInlineTerms: Int = 10000): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    requireIndex(spark, root)
    val q = queryTerms(queries, queryIdCol, termCol)
    // exact stats: integer sum + count pinned at write time, ONE
    // division — not avg(), whose internal accumulation an oracle
    // can't replay operand-for-operand
    val (nDocs, sumDl) = readCorpusStats(spark, root)
    val pruned = prunedPostings(spark, root, q, maxInlineTerms)
    // postings are unique per (id, term), so count(*) IS the df
    val df = pruned.groupBy(col("term")).agg(count(lit(1)).cast("double").as("__df"))
    val idf = log(lit(1.0) + (lit(nDocs.toDouble) - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val tf = col("tf").cast("double")
    val avgdl = lit(sumDl.toDouble) / lit(nDocs.toDouble)
    val termScore = idf * tf * lit(k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    // deterministic score: per-term contributions fold in SORTED-term
    // order (a bare sum() would accumulate in partition order, and two
    // engines would disagree on near-ties; this way the oracle can
    // replay the addition operand-for-operand)
    pruned.join(q, Seq("term"))
      .join(df, Seq("term"))
      .select(col(queryIdCol), col("id"), col("dl"), col("term"), termScore.as("__s"))
      .groupBy(col(queryIdCol), col("id"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("n_matched"),
        aggregate(
          transform(array_sort(collect_list(struct(col("term"), col("__s")))),
            x => x("__s")),
          lit(0.0), (acc, s) => acc + s).as("__score"))
      .transform(j => graft.operators.Sampling.capPerGroup(j,
        groupCols = Seq(queryIdCol),
        rankBy = Seq(-col("__score"), col("id")),
        k = k, rankName = "rank"))
      .select(col(queryIdCol), col("rank"), col("id"), col("n_matched"), col("dl"))
  }

  /** Top-k documents per query from the persisted index, identical to
    * [[Text.retrievalTopK]] over the indexed corpus: output
    * `(queryIdCol, rank, id, n_matched, sum_tf, dl)`. `queries` is a
    * BOUNDED batch (the retrieval cost model); its distinct terms are
    * collected and the postings read is artifact-planned + In-pushed
    * ([[prunedPostings]]) while they fit `maxInlineTerms`, else the
    * filter becomes a broadcast semi-join (same rows, no pruning).
    */
  def search(spark: SparkSession, root: String, queries: DataFrame,
             queryIdCol: String, termCol: String, k: Int,
             maxInlineTerms: Int = 10000): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    requireIndex(spark, root)
    val q = queryTerms(queries, queryIdCol, termCol)
    // single consumer — the pruned scan folds into the caller's action
    // instead of paying its own materialization job
    val pruned = prunedPostings(spark, root, q, maxInlineTerms,
      materialize = false)
    pruned.join(q, Seq("term"))
      .groupBy(col(queryIdCol), col("id"))
      .agg(max(col("dl")).as("dl"),
        count(lit(1)).as("n_matched"),
        sum(col("tf")).as("sum_tf"))
      .transform(j => graft.operators.Sampling.capPerGroup(j,
        groupCols = Seq(queryIdCol),
        rankBy = Seq(-col("n_matched"), -col("sum_tf"), col("id")),
        k = k, rankName = "rank"))
      .select(col(queryIdCol), col("rank"), col("id"),
        col("n_matched"), col("sum_tf"), col("dl"))
  }
}
