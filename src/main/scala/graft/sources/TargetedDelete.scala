package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Targeted row deletion over a plain-parquet table — the
  * right-to-be-forgotten rewrite: given a bounded key list, rewrite
  * ONLY the files that actually contain one of the keys, leaving every
  * other file byte-for-byte untouched. At 100 TB this is the
  * difference between rewriting a table and rewriting the handful of
  * files a user's rows landed in (thousands of times smaller when the
  * layout clusters by the key — which `target.sortBy`/zorder already
  * arrange).
  *
  * Detection: one scan with the `IN (keys…)` filter pushed to parquet
  * (row-group stats skip cleanly on clustered layouts), projecting
  * only `input_file_name()` — the candidate set never leaves the
  * metadata tier. With a `_stats` index present, pass it to pre-prune
  * the scan to files whose [min, max] intersects the key range.
  *
  * Crash safety: per-file write-ahead markers under `_delete/`, the
  * same swap protocol as [[Compaction]] — replacement staged and
  * row-count-verified (original rows − matched rows) → marker
  * (replacement + original) → replacement moves in → original deleted
  * → marker deleted. `recover()` (auto-run first) completes a
  * post-move crash by deleting the original, and rolls back a
  * pre-move crash by keeping it (staging debris is harmless). A file
  * whose every row matches is replaced by an empty-but-schema'd
  * parquet file — the swap protocol stays uniform.
  *
  * The targeted path's key list is DRIVER-BOUNDED (it inlines into the
  * pushed filter and the rewrite predicate); deletion sets beyond that
  * go through [[deleteByAntiJoin]] — a full anti-join copy (at that
  * volume you are rewriting most files anyway), with its own
  * roll-forward swap marker. [[deleteAuto]] counts the keys and routes
  * automatically, mirroring `Dedup.hammingTopKAuto`.
  */
object TargetedDelete {

  final case class Result(filesRewritten: Int, rowsDeleted: Long, filesUntouched: Int)

  private val MarkerDir = "_delete"
  private val RewriteMarkerDir = "_rewrite"

  /** Hard ceiling on keys the targeted path may inline into a pushed
    * `IN` predicate — shared by [[delete]]'s contract check and
    * [[deleteAuto]]'s routing so a caller-raised `inlineMaxKeys` can
    * never route a key set into a path that rejects it.
    */
  val InlineKeyCap = 100000

  /** Non-empty lines of a marker file (empty for a zero-byte or
    * unreadable marker) — the one place marker parsing lives.
    */
  private def markerLines(fs: org.apache.hadoop.fs.FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    val body = try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
    body.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Complete or roll back interrupted swaps; returns markers resolved. */
  def recover(spark: SparkSession, dir: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val markers = new Path(dir, MarkerDir)
    val fs = markers.getFileSystem(conf)
    if (!fs.exists(markers)) return 0
    val resolved = fs.listStatus(markers).filter(_.isFile).map { st =>
      val lines = markerLines(fs, st.getPath)
      // a zero-byte or partially-flushed marker (< 2 lines) means the
      // swap never started (the rename strictly follows the marker
      // close): the originals are intact and authoritative — drop the
      // debris instead of crashing every future delete on this table
      if (lines.length >= 2) {
        val replacement = new Path(lines.head)
        if (fs.exists(replacement))
          lines.tail.foreach(o => fs.delete(new Path(o), false))
      }
      fs.delete(st.getPath, false)
      1
    }.sum
    if (fs.listStatus(markers).isEmpty) fs.delete(markers, true)
    resolved
  }

  def delete(spark: SparkSession, dir: String, keyCol: String, keys: Seq[Any],
             stats: Option[org.apache.spark.sql.DataFrame] = None): Result = {
    require(keys.nonEmpty, "empty key list — nothing to delete")
    // a NULL in the key list poisons the keep-predicate: `NOT IN (…,
    // NULL)` is NULL for every non-matching row, so the staged file
    // would drop everything and the verify would abort mid-run —
    // reject eagerly (SQL cannot target null keys through IN anyway)
    require(!keys.contains(null), "null keys cannot be deleted through IN — " +
      "filter null-key rows with an explicit IS NULL rewrite instead")
    require(keys.size <= InlineKeyCap,
      s"${keys.size} keys: beyond the driver-bounded contract — " +
        "deleteByAntiJoin (or deleteAuto, which routes on size) handles " +
        "deletion sets this large without inlining them")
    recoverRewrite(spark, dir)
    recover(spark, dir)
    val all = ParquetSource.listParquetFiles(dir,
      spark.sparkContext.hadoopConfiguration)

    val candidates = (stats, keyBounds(keys)) match {
      case (Some(st), Some((lo, hi))) =>
        FileStatsIndex.survivingFiles(spark, dir, st,
          Seq(FileStatsIndex.Between(keyCol, lo, hi)))
      case _ => all
    }

    val inKeys = col(keyCol).isInCollection(keys)
    // __matched must be null-free: a null key never equi-matches, so it
    // survives (the keep-nulls contract)
    rewriteMatched(spark, dir, candidates, all.size,
      df => df.withColumn("__matched", coalesce(inKeys, lit(false))),
      detectFilter = Some(inKeys))
  }

  /** stats pre-prune bounds (conservative): only files whose [min,max]
    * range intersects [min(keys), max(keys)] can contain a key. Applied
    * only for key types with an unambiguous ordering here (integral,
    * string) — anything else skips the pre-prune, never prunes wrong.
    */
  private def keyBounds(keys: Seq[Any]): Option[(Any, Any)] =
    if (keys.forall(k => k.isInstanceOf[java.lang.Long] ||
        k.isInstanceOf[java.lang.Integer] || k.isInstanceOf[java.lang.Short] ||
        k.isInstanceOf[java.lang.Byte])) {
      val ls = keys.map(_.asInstanceOf[Number].longValue)
      Some((ls.min, ls.max))
    } else if (keys.forall(_.isInstanceOf[String])) {
      // order by UNSIGNED UTF-8 bytes — Spark's string ordering (and
      // therefore the stats index's min/max). Java's natural String
      // ordering is UTF-16 code units, which ranks supplementary
      // characters (surrogate pairs) BELOW U+E000..U+FFFF; using it
      // here could produce an empty [lo, hi] range and silently prune
      // every file — skipped deletions reported as success.
      val utf8: Ordering[String] = (a: String, b: String) =>
        java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val ss = keys.map(_.asInstanceOf[String])
      Some((ss.min(utf8), ss.max(utf8)))
    } else None

  /** The shared rewrite core: given candidate files and a matcher that
    * marks each row with a null-free boolean `__matched`, rewrite only
    * the files that actually contain a matched row, dropping exactly
    * the matched rows — under [[delete]]'s full staging/verify/swap
    * protocol. `detectFilter`, when given, is a predicate IMPLIED BY
    * `__matched` (a superset condition, e.g. the pushable `IN` on the
    * cluster key) applied to the detection scan only, so row-group
    * stats engage while staging still reads every row of affected
    * files.
    */
  private def rewriteMatched(spark: SparkSession, dir: String,
                             candidates: Seq[String], totalFiles: Int,
                             withMatch: org.apache.spark.sql.DataFrame =>
                               org.apache.spark.sql.DataFrame,
                             detectFilter: Option[org.apache.spark.sql.Column])
      : Result = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    if (candidates.isEmpty) return Result(0, 0L, totalFiles)

    // mergeSchema: without it Spark infers the read schema from ONE
    // arbitrary data file, so on a schema-evolved table columns present
    // only in some affected files would be silently dropped from their
    // rewritten replacements — permanent loss of non-targeted columns
    // in a delete whose row-count verify cannot see it (counts match,
    // columns don't). The union schema makes the rewrite carry every
    // column; files that lacked one get nulls for it, same as any
    // mergeSchema read of the table.
    val table = spark.read.option("mergeSchema", "true").parquet(candidates: _*)
    val dataCols = table.columns.toSeq
    val detectBase = detectFilter.fold(table)(table.filter)
    val affected = withMatch(detectBase.withColumn("__f", input_file_name()))
      .filter(col("__matched"))
      .select(col("__f")).distinct()
      .collect().map(_.getString(0)).toSeq

    var deleted = 0L
    if (affected.nonEmpty) {
      // ONE staging job for every affected file (the per-file loop this
      // replaced ran |affected| serial read→write jobs — 10k files at
      // 100 TB meant 10k jobs): tag each row with its source file's
      // index via a broadcast map-join on input_file_name(), filter the
      // survivors, write them partitioned by that index — hash
      // repartitioning puts all of a file's rows in one task, so each
      // `__gidx=N/` directory holds exactly one staged part. Per-file
      // counts and the staged verify are one aggregation job each, ALL
      // files are verified before ANY swap (an inconsistency aborts the
      // whole delete with every original intact), and the swap loop
      // below is pure filesystem work under the same per-file marker
      // protocol recover() already understands. Rows from evolved files
      // are widened to the candidates' mergeSchema UNION schema (nulls
      // for columns their original file lacked), so no file's columns
      // are dropped by the rewrite.
      val keep = !col("__matched")
      val idxDf = broadcast(spark.createDataFrame(
        affected.zipWithIndex).toDF("__f", "__gidx"))
      val tagged = withMatch(
        spark.read.option("mergeSchema", "true").parquet(affected: _*)
          .withColumn("__f", input_file_name())).join(idxDf, "__f")
      val countsByFile: Map[Int, (Long, Long)] = tagged.groupBy(col("__gidx"))
        .agg(count(lit(1)).as("total"),
          coalesce(sum(when(col("__matched"), 1L).otherwise(0L)), lit(0L)).as("matched"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val staging = new Path(dir, "_delete_staging")
      tagged.filter(keep)
        .select(col("__gidx") +: dataCols.map(col): _*)
        .repartition(col("__gidx"))
        .write.mode("overwrite").partitionBy("__gidx").parquet(staging.toString)
      // the verify reads the STAGED directory's actual content (never
      // trusts the write's own accounting); a delete that empties every
      // affected file stages no data files at all — schema inference on
      // the bare _SUCCESS dir would throw, and the expected count is 0
      val stagedCounts: Map[Int, Long] =
        if (countsByFile.values.forall { case (t, m) => t == m }) Map.empty
        else spark.read.parquet(staging.toString)
          .groupBy(col("__gidx")).agg(count(lit(1)))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      affected.zipWithIndex.foreach { case (file, i) =>
        val (total, matched) = countsByFile.getOrElse(i,
          throw new IllegalStateException(s"no counts for affected file $file"))
        val got = stagedCounts.getOrElse(i, 0L)
        require(got == total - matched,
          s"delete rewrite of $file row mismatch: $got != ${total - matched} — " +
            "aborting, originals kept")
      }
      // a file whose every row matched has no staged directory: stage
      // ONE empty-but-schema'd template (a single tiny job, only when
      // needed) and copy it per such file — the swap protocol below
      // stays uniform
      val emptyTemplate: Option[Path] =
        if (countsByFile.values.exists { case (t, m) => t == m }) {
          val emptyDir = new Path(staging, "__empty")
          table.limit(0).coalesce(1).write.mode("overwrite").parquet(emptyDir.toString)
          val tmpl = fs.listStatus(emptyDir).map(_.getPath)
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(s"no template under $emptyDir"))
          Some(tmpl)
        } else None
      affected.zipWithIndex.foreach { case (file, i) =>
        val original = new Path(file)
        val (total, matched) = countsByFile(i)
        val partDir = new Path(staging, s"__gidx=$i")
        val part =
          if (total > matched)
            fs.listStatus(partDir).map(_.getPath).find(_.getName.endsWith(".parquet"))
              .getOrElse(throw new IllegalStateException(s"no parquet under $partDir"))
          else {
            val cp = new Path(staging, s"empty_$i.parquet")
            org.apache.hadoop.fs.FileUtil.copy(fs, emptyTemplate.get, fs, cp,
              false, conf)
            cp
          }
        val target = new Path(dir,
          s"part-deleted-$i-${java.util.UUID.randomUUID()}.parquet")
        val markers = new Path(dir, MarkerDir)
        require(fs.mkdirs(markers) || fs.exists(markers),
          s"could not create marker dir $markers — aborting before the swap")
        val marker = new Path(markers, s"file_$i.json")
        val out = fs.create(marker, true)
        try out.write(s"$target\n$original".getBytes("UTF-8")) finally out.close()
        // rename is the commit point: Hadoop FileSystems report failure by
        // returning false, and deleting the original after a failed move
        // would destroy the only copy of its rows — abort with the original
        // intact (recover() then drops the marker: the target never appeared)
        require(fs.rename(part, target),
          s"rename $part -> $target failed — aborting swap, original kept")
        fs.delete(original, false)
        fs.delete(marker, false)
        deleted += matched
      }
      fs.delete(staging, true)
    }
    val markers = new Path(dir, MarkerDir)
    if (fs.exists(markers) && fs.listStatus(markers).isEmpty) fs.delete(markers, true)
    // the swap replaced files wholesale: evict this session's listing
    // cache (never expires by default) so subsequent reads of `dir`
    // can't serve the pre-delete file list — see SwapStore
    if (affected.nonEmpty) spark.catalog.refreshByPath(dir)
    Result(affected.size, deleted, totalFiles - affected.size)
  }

  /** Delete exact (pruneCol, otherCol) VALUE PAIRS, pruning files by
    * `pruneCol` alone — the cross-column RTBF shape for co-clustered
    * adjacency tables: an edge table clustered by `src` cannot prune a
    * "dst ∈ ids" delete, but when the caller KNOWS the doomed edges
    * (from the dst-clustered twin table, a bounded stats-pruned read),
    * the delete becomes "these exact (src, dst) pairs", and the files
    * to rewrite are found through the cluster key's stats + pushed IN —
    * batch-proportional work where the single-column path pays a
    * whole-table scan. Matching is an equi-join against a broadcast
    * pairs frame (nothing inlines per pair into a predicate); the
    * detection filter (`pruneCol IN first-components`) is implied by
    * any pair match, so it prunes row groups without changing
    * semantics. Null components are rejected; rows with a null in
    * either column never match (they survive, the keep-nulls
    * contract). Stats artifact at `<dir>/_stats` is auto-loaded when
    * `stats` is not supplied.
    */
  def deletePairs(spark: SparkSession, dir: String, pruneCol: String,
                  otherCol: String, pairs: Seq[(Any, Any)],
                  stats: Option[org.apache.spark.sql.DataFrame] = None): Result = {
    require(pairs.nonEmpty, "empty pair list — nothing to delete")
    require(pairs.forall(p => p._1 != null && p._2 != null),
      "null pair components cannot be deleted through an equi-match — " +
        "filter null rows with an explicit IS NULL rewrite instead")
    require(pairs.size <= InlineKeyCap,
      s"${pairs.size} pairs: beyond the driver-bounded contract — " +
        "route oversized deletions through deleteByAntiJoin on one column")
    recoverRewrite(spark, dir)
    recover(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val all = ParquetSource.listParquetFiles(dir, conf)
    if (all.isEmpty) return Result(0, 0L, 0)
    val pruneKeys = pairs.map(_._1).distinct
    val statsDf = stats.orElse {
      val p = new Path(dir, "_stats")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
    }
    val candidates = (statsDf, keyBounds(pruneKeys)) match {
      case (Some(st), Some((lo, hi)))
          if st.columns.contains(s"${pruneCol}__min") =>
        FileStatsIndex.survivingFiles(spark, dir, st,
          Seq(FileStatsIndex.Between(pruneCol, lo, hi)))
      case _ => all
    }
    if (candidates.isEmpty) return Result(0, 0L, all.size)
    val schema = spark.read.parquet(candidates: _*).schema
    val pDt = schema(pruneCol).dataType
    val oDt = schema(otherCol).dataType
    val pairsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(pairs.map { case (a, b) =>
        org.apache.spark.sql.Row(coerceKey(a, pDt), coerceKey(b, oDt))
      }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(pruneCol, pDt),
        org.apache.spark.sql.types.StructField(otherCol, oDt))))
      .distinct().withColumn("__pairhit", lit(1))
    rewriteMatched(spark, dir, candidates, all.size,
      df => df.join(broadcast(pairsDf), Seq(pruneCol, otherCol), "left")
        .withColumn("__matched", col("__pairhit").isNotNull).drop("__pairhit"),
      detectFilter = Some(col(pruneCol).isInCollection(pruneKeys)))
  }

  /** Count the key list and route: ≤ `inlineMaxKeys` keys take the
    * targeted per-file rewrite (pushed `IN` filter, only key-bearing
    * files touched); anything larger takes the anti-join full copy —
    * the inline filter would otherwise grow with the key list and at
    * that volume most files carry a key anyway. Mirrors
    * `Dedup.hammingTopKAuto`'s measure-then-route shape.
    */
  def deleteAuto(spark: SparkSession, dir: String, keyCol: String, keys: Seq[Any],
                 stats: Option[org.apache.spark.sql.DataFrame] = None,
                 inlineMaxKeys: Int = InlineKeyCap): Result =
    // clamp to delete()'s own contract cap: a caller-raised inlineMaxKeys
    // must widen the anti-join arm, never route keys into a path that
    // immediately rejects them
    if (keys.size <= math.min(inlineMaxKeys, InlineKeyCap))
      delete(spark, dir, keyCol, keys, stats)
    else deleteByAntiJoin(spark, dir, keyCol, keys)

  /** Full-copy deletion for oversized key sets: the surviving rows are
    * an anti-join of the table against a distributed keys frame (the
    * keys NEVER inline into a predicate, so the list can be
    * arbitrarily large), staged, row-count-verified
    * (staged = total − semi-join matches), then swapped in under a
    * single roll-forward marker in `_rewrite/`: because the marker is
    * written only AFTER the staged copy is verified complete, recovery
    * always completes the swap (move remaining staged parts in, drop
    * the originals) — it never has to choose a direction. Rows whose
    * key is NULL survive, matching [[delete]]'s keep-nulls contract
    * (a null key never equi-matches the anti-join).
    */
  def deleteByAntiJoin(spark: SparkSession, dir: String, keyCol: String,
                       keys: Seq[Any]): Result = {
    require(keys.nonEmpty, "empty key list — nothing to delete")
    require(!keys.contains(null), "null keys cannot be deleted through an " +
      "equi-anti-join — filter null-key rows with an explicit IS NULL rewrite")
    // Recover FIRST, and key-coerce only against a non-empty listing: a
    // prior anti-join that deleted every row (or a crash mid-swap) can
    // leave the dir with zero data files, where an eager
    // `spark.read.parquet(dir).schema` throws 'Unable to infer schema'
    // instead of the documented no-op Result. recoverRewrite/recover are
    // idempotent, so deleteByAntiJoinDf re-running them is free.
    recoverRewrite(spark, dir)
    recover(spark, dir)
    val listed = ParquetSource.listParquetFiles(dir, spark.sparkContext.hadoopConfiguration)
    if (listed.isEmpty) return Result(0, 0L, 0)
    val schema = spark.read.parquet(listed: _*).schema
    val keyType = schema(keyCol).dataType
    val keysDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        keys.map(k => org.apache.spark.sql.Row(coerceKey(k, keyType))),
        math.max(1, keys.size / 500000)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(keyCol, keyType))))
    deleteByAntiJoinDf(spark, dir, keyCol, keysDf)
  }

  /** [[deleteByAntiJoin]] keyed by a DATAFRAME of doomed keys — the
    * form for deletion sets that are themselves distributed query
    * results and must never be driver-collected (a hub vertex's orphan
    * set, a join-derived purge list). The keys frame's single column
    * must be named `keyCol` and castable to the table's key type; null
    * keys in the frame never equi-match (the keep-nulls contract).
    * Everything else — staging, row-count verify, the roll-forward
    * rewrite marker — is the [[deleteByAntiJoin]] protocol verbatim.
    */
  def deleteByAntiJoinDf(spark: SparkSession, dir: String, keyCol: String,
                         keysFrame: org.apache.spark.sql.DataFrame): Result = {
    recoverRewrite(spark, dir)
    recover(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val all = ParquetSource.listParquetFiles(dir, conf)
    if (all.isEmpty) return Result(0, 0L, 0)
    val table = spark.read.parquet(all: _*)
    val keyType = table.schema(keyCol).dataType
    val keysDf = keysFrame
      .select(col(keyCol).cast(keyType).as(keyCol)).distinct()
    val total = table.count()
    val matched = table.join(keysDf, Seq(keyCol), "left_semi").count()
    val staging = new Path(dir, "_rewrite_staging")
    // the join moves the key column first; rewritten files keep the
    // table's column order (a schema-less read takes it from any footer)
    table.join(keysDf, Seq(keyCol), "left_anti")
      .select(table.columns.map(col).toIndexedSeq: _*)
      .write.mode("overwrite").parquet(staging.toString)
    val staged = spark.read.parquet(staging.toString).count()
    require(staged == total - matched,
      s"anti-join rewrite row mismatch: $staged != ${total - matched} — " +
        "aborting, originals kept")
    val markers = new Path(dir, RewriteMarkerDir)
    require(fs.mkdirs(markers) || fs.exists(markers),
      s"could not create marker dir $markers — aborting before the swap")
    val marker = new Path(markers, "rewrite.json")
    val out = fs.create(marker, true)
    try out.write((staging.toString +: all).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    completeRewrite(fs, dirPath, staging, all)
    require(fs.delete(marker, false) || !fs.exists(marker),
      s"could not clear rewrite marker $marker")
    if (fs.exists(markers) && fs.listStatus(markers).isEmpty) fs.delete(markers, true)
    spark.catalog.refreshByPath(dir)
    Result(all.size, total - staged, 0)
  }

  /** Merge a SUBSET of a table's parquet files into replacement files
    * under the same roll-forward rewrite marker as [[deleteByAntiJoin]]
    * — the MINOR-compaction primitive: a store folds only its
    * accumulated override files (I/O ∝ override bytes) instead of
    * rewriting the whole table. `resolve` may drop rows superseded
    * WITHIN the subset (LSM max-seq resolution) but must never consult
    * rows outside it; `write` stages the resolved frame into the
    * staging dir it is handed (clustered at the store's granularity).
    * Crash discipline is [[deleteByAntiJoinDf]]'s verbatim: the marker
    * is written only AFTER the staged copy is verified against the
    * pre-computed resolved count, so [[recoverRewrite]] always rolls
    * FORWARD — the subset swap is all-or-nothing in effect, which is
    * what lets a minor fold destroy per-tag names without violating
    * the replay protocol (every tag in the subset loses ALL its names
    * in the table, or none). Returns whether a fold ran. A SINGLE
    * subset file still folds: for LSM stores the rewrite's point is
    * name hygiene, not just merging — a surviving per-tag name after
    * the other tables folded would let a replayed tag retire a
    * COMPLETED epoch's rows from this table alone (the cross-table
    * half-fold corruption the auto-compact marker exists to prevent),
    * so the fold must leave ZERO tagged names behind, even at the cost
    * of rewriting one file.
    */
  def foldFiles(spark: SparkSession, dir: String, files: Seq[String],
                resolve: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                write: (org.apache.spark.sql.DataFrame, String) => Unit): Boolean = {
    recoverRewrite(spark, dir)
    recover(spark, dir)
    if (files.isEmpty) return false
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val resolved = resolve(spark.read.parquet(files: _*)).persist()
    try {
      val expected = resolved.count()
      val staging = new Path(dir, "_rewrite_staging")
      write(resolved, staging.toString)
      val staged = spark.read.parquet(staging.toString).count()
      require(staged == expected,
        s"subset fold row mismatch: $staged != $expected — " +
          "aborting, originals kept")
      val markers = new Path(dir, RewriteMarkerDir)
      require(fs.mkdirs(markers) || fs.exists(markers),
        s"could not create marker dir $markers — aborting before the swap")
      val marker = new Path(markers, "rewrite.json")
      val out = fs.create(marker, true)
      try out.write((staging.toString +: files).mkString("\n").getBytes("UTF-8"))
      finally out.close()
      completeRewrite(fs, dirPath, staging, files)
      require(fs.delete(marker, false) || !fs.exists(marker),
        s"could not clear rewrite marker $marker")
      if (fs.exists(markers) && fs.listStatus(markers).isEmpty) fs.delete(markers, true)
      spark.catalog.refreshByPath(dir)
      true
    } finally { resolved.unpersist(); () }
  }

  /** Complete an interrupted [[deleteByAntiJoin]] swap; returns markers
    * resolved. Roll-forward only: a marker exists ⇒ the staged copy was
    * verified complete ⇒ finish the moves and drop the originals. Run
    * automatically by both delete paths.
    */
  def recoverRewrite(spark: SparkSession, dir: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val markers = new Path(dir, RewriteMarkerDir)
    val fs = markers.getFileSystem(conf)
    if (!fs.exists(markers)) return 0
    val resolved = fs.listStatus(markers).filter(_.isFile).map { st =>
      val lines = markerLines(fs, st.getPath)
      // a partially-flushed marker (< 2 lines) means the swap never
      // started — originals intact and authoritative, drop the debris
      if (lines.length >= 2)
        completeRewrite(fs, new Path(dir), new Path(lines.head), lines.tail)
      fs.delete(st.getPath, false)
      1
    }.sum
    if (fs.listStatus(markers).isEmpty) fs.delete(markers, true)
    resolved
  }

  /** The idempotent swap tail shared by the live path and recovery:
    * move every staged parquet part into the table dir (skipping any
    * already moved — part names are job-UUID-unique so they never
    * collide with originals), then delete the original files, then the
    * staging dir. Every rename is success-checked before any original
    * is touched.
    */
  private def completeRewrite(fs: org.apache.hadoop.fs.FileSystem, dirPath: Path,
                              staging: Path, originals: Seq[String]): Unit = {
    if (fs.exists(staging)) {
      fs.listStatus(staging).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .foreach { part =>
          val target = new Path(dirPath, part.getName)
          if (!fs.exists(target))
            require(fs.rename(part, target),
              s"rename $part -> $target failed — aborting swap, originals kept")
        }
    }
    originals.foreach { o =>
      val p = new Path(o)
      if (fs.exists(p)) fs.delete(p, false)
    }
    if (fs.exists(staging)) fs.delete(staging, true)
  }

  /** Map a driver-side key to the table column's external row type —
    * integral/fractional widening plus strings; anything else passes
    * through and must already match.
    */
  private def coerceKey(k: Any, dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    (k, dt) match {
      case (null, _) => null
      case (n: Number, LongType) => n.longValue
      case (n: Number, IntegerType) => n.intValue
      case (n: Number, ShortType) => n.shortValue
      case (n: Number, ByteType) => n.byteValue
      case (n: Number, DoubleType) => n.doubleValue
      case (n: Number, FloatType) => n.floatValue
      case (s, StringType) => s.toString
      case _ => k
    }
  }
}
