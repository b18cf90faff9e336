package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Key-pruned point-lookup reads over a key-clustered parquet table —
  * the shared primitive behind every "probe a persisted store with a
  * bounded key batch" path (near-dup store tiers, id-census delta
  * checks). Two pruning layers compose:
  *
  *  1. **File-level** (planning time, zero I/O): when the table carries
  *     a [[FileStatsIndex]] `_stats` artifact, the driver keeps only
  *     files whose [min, max] key range contains at least one probe
  *     key (binary search of the sorted key array per file — exact
  *     interval membership, not just range overlap). Files the
  *     artifact has never seen are always kept, so a stale artifact
  *     can only under-prune, never lose rows. This is what makes probe
  *     cost batch-proportional in FILE OPENS, not just bytes: a scan
  *     that must open every footer still pays a metadata round trip
  *     per file (hundreds of thousands of S3 GETs at warehouse scale).
  *  2. **Row-group-level** (read time): the surviving files are read
  *     with the keys pushed as IN predicates in sorted contiguous
  *     chunks, under the session's parquet `inFilterThreshold` (pinned
  *     to [[PruneChunk]] by [[graft.Tables.session]]) so the filter
  *     stays exact OR-of-eq pushdown instead of collapsing to a
  *     min/max range — each row group's stats then reject chunks that
  *     merely straddle it.
  *
  * Both layers are advisory: results equal an unpruned
  * `read.filter(key isin probe)` by construction (KeyedReadsSpec
  * property-checks it against random layouts).
  */
object KeyedReads {

  /** Sorted-chunk size for the pushed IN predicates: large enough to
    * amortize scan-branch overhead, small enough that evaluating the
    * OR-of-eq set against row-group stats stays cheap.
    */
  val PruneChunk = 512

  /** Distinct keys of `df.keyCol`, driver-collected — or None past
    * `cap` (the caller falls back to a full-scan join at that size).
    * Null keys are dropped (a point lookup on null matches nothing
    * under SQL join semantics).
    */
  def collectKeys(df: DataFrame, keyCol: String, cap: Int): Option[Array[Any]] = {
    val rows = df.select(col(keyCol)).filter(col(keyCol).isNotNull)
      .distinct().limit(cap + 1).collect()
    if (rows.length > cap) None else Some(rows.map(_.get(0)))
  }

  /** Rows of the parquet table under `path` whose `keyCol` is in
    * `keys`, read through both pruning layers. Empty key set returns
    * an empty frame with the table's schema (schema-only read).
    * `mergeSchema = true` reads under the table's UNION schema — the
    * mixed-schema-safe mode for stores whose files evolved (e.g. an id
    * census that grew a forward column mid-life): without it the read
    * schema comes from ONE arbitrary surviving file, so whether an
    * evolved column even appears would depend on which files the prune
    * kept — footer-nondeterministic behavior no caller can reason
    * about. Rows from pre-evolution files carry null for the evolved
    * columns, as in any mergeSchema read.
    */
  def prunedRead(spark: SparkSession, path: String, keyCol: String,
                 keys: Array[Any], mergeSchema: Boolean = false,
                 materialize: Boolean = true): DataFrame = {
    // schema passed EXPLICITLY on the non-merge path: a schema-less
    // `spark.read.parquet` launches a footer-inference Spark JOB per
    // call (measured: 53 of q_cfg_graphrank's 156 jobs), so the table
    // schema is inferred once per file-name signature and served from
    // a cache thereafter. mergeSchema reads keep live inference — the
    // union schema must see every footer by definition.
    def reader =
      if (mergeSchema) spark.read.option("mergeSchema", "true")
      else spark.read.schema(schemaFor(spark, path))
    if (keys.isEmpty) return reader.parquet(path).limit(0)
    // sort before chunking so each chunk covers a CONTIGUOUS key
    // interval: against a range-sharded layout a chunk then touches
    // few files instead of sampling every shard (sorting only shapes
    // pruning efficiency, never results)
    val sorted: Array[Any] = keys.headOption match {
      case Some(_: Long)   => keys.map(_.asInstanceOf[Long]).sorted.map(x => x: Any)
      case Some(_: Int)    => keys.map(_.asInstanceOf[Int]).sorted.map(x => x: Any)
      case Some(_: String) => keys.map(_.asInstanceOf[String]).sorted.map(x => x: Any)
      case _               => keys
    }
    val files = survivingFiles(spark, path, keyCol, sorted)
    if (files.exists(_.isEmpty)) return reader.parquet(path).limit(0)
    // `materialize = false` skips the eager checkpoint JOB for callers
    // that consume the read exactly once (or whose consumers all live
    // inside one downstream action): the pruned scan then runs lazily
    // inside that action instead of paying its own driver job. Two
    // read-shaping confs are set once, at session creation
    // ([[graft.Tables.session]], from [[PruneChunk]] and
    // [[ListSerialThreshold]]) — never raised per call, because a lazy
    // read plans and executes after this returns:
    //  - exact-IN pushdown threshold (row-group pruning);
    //  - parallel-listing threshold: `reader.parquet(files…)` with more
    //    explicit paths than the default 32 launches a whole Spark JOB
    //    just to stat the files — but a pruned point read's file list
    //    is BATCH-BOUNDED by construction (the artifact already named
    //    the exact leaf files, no directory recursion), so driver-side
    //    serial listing is strictly cheaper than a cluster job at any
    //    scale the inline path admits (measured: 53 of q_cfg_graphrank's
    //    156 jobs were these listing jobs).
    def read(): DataFrame = files match {
      case Some(fs) => reader.parquet(fs: _*)
      case None     => reader.parquet(path)
    }
    val df = sorted.grouped(PruneChunk)
      .map(chunk => read().filter(col(keyCol).isInCollection(chunk)))
      .reduce(_.unionByName(_))
    if (materialize) graft.Checkpoints.materialize(df) else df
  }

  /** Explicit-path listing budget for pruned reads: below this many
    * leaf files the driver lists serially instead of launching a
    * listing JOB (Spark's default threshold is 32 — every multi-granule
    * point read paid a cluster job to stat a handful of files).
    */
  val ListSerialThreshold = 4096

  /** Table schema per (path, sorted-file-name signature): every store
    * mutation publishes/retires part files under FRESH names (UUID part
    * files, tag-named epochs), so the name set identifies a table
    * version exactly; the one inference job runs per version instead of
    * per read. Bounded like [[statsCache]].
    */
  private val schemaCache = scala.collection.concurrent.TrieMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  /** The parquet table's schema under `path`, cached by file-name
    * signature — and resolved DRIVER-SIDE when the files are
    * Spark-written: every Spark parquet writer embeds the exact
    * StructType JSON in the footer's key-value metadata
    * (`org.apache.spark.sql.parquet.row.metadata`), and Spark's own
    * inference prefers that schema when present — so reading ONE footer
    * on the driver returns the identical schema with ZERO Spark jobs,
    * where a schema-less `read.parquet` pays a footer-inference job per
    * new path (fresh store epochs and per-gate temp tables defeat the
    * signature cache by design — the cache only ever amortized
    * re-reads of one version). Foreign files (no embedded schema, e.g.
    * the driver fixtures) fall back to live inference, once per
    * version.
    */
  def schemaFor(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = ParquetSource.listParquetStatuses(path, conf)
    val names = files.map(f => pathOf(f.getPath.toString)).sorted.mkString("|")
    schemaCache.get(path) match {
      case Some((sig, s)) if sig == names => s
      case _ =>
        val s = ParquetSource.firstFileSchema(conf, files)
          .getOrElse(spark.read.parquet(path).schema)
        if (schemaCache.size > 256) schemaCache.clear()
        schemaCache(path) = (names, s)
        s
    }
  }

  /** Session-scoped cache of collected stats-artifact rows, keyed by
    * `<table path>#<keyCol>` and validated against the artifact's
    * EXACT file signature (names + lengths + mtimes): a point-lookup
    * loop (the link-graph epoch runs ~15-25 keyed reads per epoch)
    * otherwise pays a full Spark job per read just to re-collect an
    * unchanged |files|-row artifact — a fixed ~100 ms of job overhead
    * multiplied into every frontier round. Any write that touches the
    * artifact (appendFor, update, rebuild) changes the signature, so a
    * stale hit is impossible; `None` caches "artifact doesn't cover
    * this key column". Bounded: cleared wholesale past 256 entries
    * (point-lookup working sets are a handful of store tables).
    */
  private val statsCache = scala.collection.concurrent.TrieMap[
    String, (String, Option[Array[org.apache.spark.sql.Row]])]()

  /** File-level prune against the table's `_stats` artifact: Some(kept
    * files) when the artifact exists and covers `keyCol`, None when
    * there is nothing to prune with (read the directory normally).
    * A file survives iff some probe key falls inside its [min, max]
    * (binary search — exact for the supported orderable types; other
    * key types conservatively keep the file), or the artifact has no
    * row for it.
    */
  private def survivingFiles(spark: SparkSession, path: String, keyCol: String,
                             sortedKeys: Array[Any]): Option[Seq[String]] = {
    val statsPath = new org.apache.hadoop.fs.Path(path, "_stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsPath)) return None
    val (lo, hi) = (s"${keyCol}__min", s"${keyCol}__max")
    val sig = fs.listStatus(statsPath).filter(_.isFile)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
    val cacheKey = s"$path#$keyCol"
    val cached = statsCache.get(cacheKey) match {
      case Some((s, rows)) if s == sig => rows
      case _ =>
        // the artifact is driver-sized (one row per data file — the
        // FileIndex scaling argument), so decode it ON the driver: a
        // Spark read here pays an inference job + a collect job per
        // store mutation, pure scheduling cost in every point-read loop
        val rows = ParquetSource.localRows(
            spark.sparkContext.hadoopConfiguration, statsPath.toString,
            Seq("file", lo, hi)) match {
          case ParquetSource.LocalRead.Rows(rs) => Some(rs)
          case ParquetSource.LocalRead.ColumnsMissing => None
          case ParquetSource.LocalRead.Unsupported =>
            val stats = spark.read.parquet(statsPath.toString)
            if (!stats.columns.contains(lo) || !stats.columns.contains(hi)) None
            else Some(stats.select(col("file"), col(lo), col(hi)).collect())
        }
        if (statsCache.size > 256) statsCache.clear()
        statsCache(cacheKey) = (sig, rows)
        rows
    }
    val known = cached match {
      case Some(rows) => rows
      case None => return None
    }
    def anyKeyIn(mn: Any, mx: Any): Boolean = {
      if (mn == null || mx == null) return false // empty/all-null file
      // smallest key >= mn, then check it is <= mx
      import java.util.Arrays
      val i = (mn, sortedKeys.headOption) match {
        case (m: java.lang.Long, Some(_: Long)) =>
          val a = sortedKeys.map(_.asInstanceOf[Long])
          val j = Arrays.binarySearch(a, m.longValue)
          val k = if (j >= 0) j else -j - 1
          if (k >= a.length) -1
          else if (a(k) <= mx.asInstanceOf[Long]) k else -1
        case (m: java.lang.Integer, Some(_: Int)) =>
          val a = sortedKeys.map(_.asInstanceOf[Int])
          val j = Arrays.binarySearch(a, m.intValue)
          val k = if (j >= 0) j else -j - 1
          if (k >= a.length) -1
          else if (a(k) <= mx.asInstanceOf[Int]) k else -1
        case (m: String, Some(_: String)) =>
          val a = sortedKeys.map(_.asInstanceOf[String])
          val j = Arrays.binarySearch(a.asInstanceOf[Array[AnyRef]], m)
          val k = if (j >= 0) j else -j - 1
          if (k >= a.length) -1
          else if (a(k) <= mx.asInstanceOf[String]) k else -1
        case _ => 0 // unsupported type: conservatively keep
      }
      i >= 0
    }
    val keepSet = known.filter(r => anyKeyIn(r.get(1), r.get(2)))
      .map(r => pathOf(r.getString(0))).toSet
    val knownSet = known.map(r => pathOf(r.getString(0))).toSet
    // anything the artifact has never seen stays in (appends since the
    // last stats update must never be silently dropped); listParquetFiles
    // already excludes _/.-prefixed children BELOW the table root — the
    // root itself may legitimately sit under an underscore parent (the
    // id census lives at <store>/_ids/rows), so no whole-path filter here
    val all = ParquetSource
      .listParquetFiles(path, spark.sparkContext.hadoopConfiguration)
    Some(all.filter(f => !knownSet.contains(pathOf(f)) || keepSet.contains(pathOf(f))))
  }

  private def pathOf(file: String): String =
    new org.apache.hadoop.fs.Path(file).toUri.getPath
}
