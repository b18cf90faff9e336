package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The one fold every persisted LSM store runs (NearDupStore, AnnIndex,
  * LexIndex, LinkGraph, the id census, the Web line census) — the
  * savepoint-housekeeping discipline (reference:
  * migrator/src/main/scala/com/scylladb/migrator/SavepointsManager.scala:337-387)
  * written once over a plain description of each store's tables.
  *
  * A store is a list of key-clustered parquet [[Table]]s. Epoch
  * appends publish per-tag OVERRIDE files ([[EpochFiles]] names) next
  * to a clustered base; reads resolve the winning row per key. Two
  * fold tiers keep that healthy:
  *
  *  - [[foldOverrides]] — the MINOR tier auto-compact runs: only the
  *    tagged override files of each table merge (resolved within the
  *    override set) into granule-capped, range-clustered runs, so fold
  *    I/O is ∝ override bytes, never the store, and lifetime fold I/O
  *    stays linear. [[TargetedDelete.foldFiles]]' roll-forward marker
  *    makes each subset swap all-or-nothing per table, so a tag loses
  *    ALL its names in a table or none — the invariant
  *    [[AutoCompact]]'s crash protocol needs. What it does not
  *    reclaim: a base row superseded by an override (one stale version
  *    per key and table), nor global clustering across base + folded
  *    runs.
  *  - [[recluster]] — the MAJOR tier, at operator cadence: each table
  *    is resolved whole and rewritten globally clustered under the
  *    crash-safe [[graft.streaming.SwapStore]] swap, and its stats
  *    artifact rebuilt. Destroys per-tag names, so run it only between
  *    settled epochs.
  *
  * Both tiers first restore a table a crashed major swap left aside
  * (`<dir>__old`), and skip a table that does not exist.
  *
  * The epoch tier is written here once too, over the same description:
  *
  *  - [[publish]] — one table's share of an epoch: staged under
  *    `<root>/_stage/<tag>/<table dir under root>` ([[stageDir]]),
  *    moved in under the tag's deterministic names
  *    ([[EpochFiles.publish]] retires any previous attempt first), and
  *    the table's `_stats` advanced over exactly the published files.
  *    [[append]] is its untagged sibling for the plain append paths.
  *  - [[rollback]] — the store back to its pre-epoch content wherever
  *    an attempt died: an interrupted auto-compact completes first
  *    ([[recover]]), then the tag retires from every table, each table
  *    that lost a file has its `_stats` refreshed, and the tag's stage
  *    goes. A tag that never published costs no Spark job.
  *  - [[forget]] — the right-to-be-forgotten rewrite of one table
  *    ([[TargetedDelete]]): keyed deletes pre-pruned by the `_stats`
  *    artifact, or caller-derived `(key, id)` pairs for a table
  *    clustered on something other than the id, with the id scan as
  *    the fallback past the inline cap.
  *
  * [[autoCompact]], run at a mutation's settled end, also drops what is
  * left of the store's stage area. The caller owns what an epoch means
  * (its delta, its order of publishes, its commit marker — [[commit]]
  * for the streaming sinks); this object owns the file discipline.
  */
object StoreTables {

  /** One key-clustered table of a store.
    *
    * @param key         range-cluster column (and the `_stats` column)
    * @param sortBy      in-file sort columns (defaults to `key`)
    * @param resolve     the winning row per key over any row subset —
    *                    identity for append-only tables whose rows are
    *                    unique across tags
    * @param rowsPerFile file cap of every fold write; 0 = none
    * @param shardRows   minor-fold rows per shard (1..200 shards)
    * @param stats       whether the table keeps a `_stats` artifact
    */
  final case class Table(dir: String, key: String,
                         sortBy: Seq[String] = Nil,
                         resolve: DataFrame => DataFrame = identity,
                         rowsPerFile: Long = 0L,
                         shardRows: Long = Long.MaxValue,
                         stats: Boolean = true) {
    private def sortCols = (if (sortBy.isEmpty) Seq(key) else sortBy).map(col)

    /** Range-clustered on `key` at the session's shuffle width. */
    def clustered(df: DataFrame): DataFrame =
      df.repartitionByRange(col(key)).sortWithinPartitions(sortCols: _*)

    /** Range-clustered on `key` into `shards` partitions. */
    def clustered(df: DataFrame, shards: Int): DataFrame =
      df.repartitionByRange(shards, col(key)).sortWithinPartitions(sortCols: _*)

    /** `df`'s writer under this table's file cap. */
    def capped(df: DataFrame): DataFrameWriter[Row] =
      if (rowsPerFile > 0L) df.write.option("maxRecordsPerFile", rowsPerFile) else df.write
  }

  /** A store: its table-dir root (where the auto-compact policy, marker
    * and baseline live), its tables, and a non-parquet sidecar fold
    * that rides every fold of either tier.
    */
  final case class Store(root: String, tables: Seq[Table],
                         sidecarFold: SparkSession => Unit = _ => ()) {
    def dirs: Seq[String] = tables.map(_.dir)

    /** The table at `dir`. */
    def table(dir: String): Table =
      tables.find(_.dir == dir).getOrElse(throw new NoSuchElementException(
        s"no table $dir in the store at $root"))
  }

  /** Create `t` from `rows` in the layout `t` describes: range-clustered
    * on its key, sorted, files capped at its `rowsPerFile`; then its
    * `_stats` artifact when it keeps one (with the writer's schema, so
    * no footer inference), and the listing refreshed. `mode` is the
    * store's own: `errorifexists` where creating over an existing store
    * is a mistake, `overwrite` where a create rebuilds.
    */
  def create(spark: SparkSession, t: Table, rows: DataFrame, mode: String): Unit = {
    t.capped(t.clustered(rows)).mode(mode).parquet(t.dir)
    if (t.stats) FileStatsIndex.buildAndSave(spark, t.dir, Seq(t.key), schema = Some(rows.schema))
    spark.catalog.refreshByPath(t.dir)
  }

  /** Shard count for `nRows` rows at `shardRows` rows per shard — a
    * batch-bounded write through the session's default shuffle width
    * would land a handful of rows as MANY near-empty files, LSM
    * file-count growth every later stats-pruned read pays in footer
    * opens. Small writes land ONE file, large ones still shard.
    */
  def shardsFor(nRows: Long, shardRows: Long): Int =
    math.max(1L, math.min(200L, (nRows - 1L) / math.max(1L, shardRows) + 1L)).toInt

  /** MINOR fold of every table, then the store's sidecar fold. */
  def foldOverrides(spark: SparkSession, store: Store): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    for (t <- store.tables if graft.streaming.SwapStore.recover(spark, t.dir)) {
      val tagged = ParquetSource.listParquetFiles(t.dir, conf)
        .filter(f => EpochFiles.isTagged(new Path(f).getName))
      val ran = TargetedDelete.foldFiles(spark, t.dir, tagged, t.resolve,
        (df, staging) => t.capped(t.clustered(df, shardsFor(df.count(), t.shardRows)))
          .mode("overwrite").parquet(staging))
      if (ran) {
        if (t.stats) FileStatsIndex.update(spark, t.dir, Seq(t.key))
        spark.catalog.refreshByPath(t.dir)
      }
    }
    store.sidecarFold(spark)
  }

  /** MAJOR fold of every table, then the store's sidecar fold. */
  def recluster(spark: SparkSession, store: Store): Unit = {
    for (t <- store.tables if graft.streaming.SwapStore.recover(spark, t.dir)) {
      // swapWrite stages to <dir>__tmp BEFORE touching the live dir,
      // so the lazy self-read drains the old files safely
      graft.streaming.SwapStore.swapWrite(
        t.clustered(t.resolve(spark.read.parquet(t.dir))), t.dir, t.rowsPerFile)
      if (t.stats) FileStatsIndex.buildAndSave(spark, t.dir, Seq(t.key))
      spark.catalog.refreshByPath(t.dir)
    }
    store.sidecarFold(spark)
  }

  /** Settle a mutation: drop the store's stage area (every publish of a
    * settled mutation has moved its files out; anything left is debris
    * of a crashed attempt, which that tag's replay stages afresh), then
    * run the minor fold iff the store's auto-compact policy says its
    * override files have grown past the threshold ([[AutoCompact.maybe]]).
    * Call at the SETTLED end of a mutation. Returns whether the fold ran.
    */
  def autoCompact(spark: SparkSession, store: Store): Boolean = {
    deleteDir(spark, new Path(store.root, "_stage"))
    AutoCompact.maybe(spark, store.root, store.dirs)(foldOverrides(spark, store))
  }

  /** Complete an interrupted auto-compact ([[AutoCompact.recover]]);
    * call at every mutation entry point BEFORE retiring anything.
    */
  def recover(spark: SparkSession, store: Store): Unit =
    AutoCompact.recover(spark, store.root, store.dirs)(foldOverrides(spark, store))

  // ---- the epoch tier ----

  private def tagStage(root: String, tag: String) = new Path(root, s"_stage/$tag")

  private def deleteDir(spark: SparkSession, p: Path): Unit = {
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Where `t`'s share of epoch `tag` stages:
    * `<root>/_stage/<tag>/<t.dir under root>` — or `<root>/_stage/<tag>`
    * itself for a table at the root (a streaming sink's output).
    */
  def stageDir(store: Store, t: Table, tag: String): String = {
    val (root, dir) = (new Path(store.root).toUri.getPath, new Path(t.dir).toUri.getPath)
    require(dir == root || dir.startsWith(root + "/"), s"${t.dir} is not under ${store.root}")
    val stage = tagStage(store.root, tag)
    if (dir == root) stage.toString else new Path(stage, dir.drop(root.length + 1)).toString
  }

  /** [[publish]]'s file discipline around any `write` of the stage
    * dir it is given: stage, then [[EpochFiles.publish]] into `t.dir`.
    * A one-table store's tag stage then holds nothing else and goes
    * too (a store of several tables may be staging a sibling, so its
    * stage waits for [[autoCompact]] or [[rollback]]). Returns the
    * published files.
    */
  def publishWith(spark: SparkSession, store: Store, t: Table, tag: String)
                 (write: String => Unit): Seq[String] = {
    val stage = stageDir(store, t, tag)
    write(stage)
    val published = EpochFiles.publish(spark, stage, t.dir, tag)
    if (store.tables.size == 1) deleteDir(spark, tagStage(store.root, tag))
    published
  }

  /** A plain (untagged) append to `t`: `write` appends, then the
    * listing refreshes and `_stats` advances over EXACTLY the files the
    * write created (listing diff → [[FileStatsIndex.appendFor]], one
    * small job — never an artifact rewrite per append, a cost that
    * would grow with the store's file count instead of the batch). No
    * replay protocol: that is [[publish]]'s.
    */
  def appendWith(spark: SparkSession, t: Table)(write: => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val before = ParquetSource.listParquetFiles(t.dir, conf).toSet
    write
    spark.catalog.refreshByPath(t.dir)
    if (t.stats) FileStatsIndex.appendFor(spark, t.dir, Seq(t.key),
      ParquetSource.listParquetFiles(t.dir, conf).filterNot(before.contains))
    ()
  }

  /** [[appendWith]] of `df`, clustered and capped like every table write. */
  def append(spark: SparkSession, t: Table, df: DataFrame): Unit =
    appendWith(spark, t)(t.capped(t.clustered(df)).mode("append").parquet(t.dir))

  /** Publish `df` as `t`'s share of epoch `tag`: written clustered and
    * capped — into [[shardsFor]]`(rows, t.shardRows)` range shards when
    * the caller already holds the row count (a small epoch lands ONE
    * file and skips the range-sample job), at the session's shuffle
    * width otherwise — then moved in under the tag's names, and the
    * `_stats` artifact advanced over EXACTLY the published files (one
    * small job; the writer's schema rides along, so no footer
    * inference). A replayed tag may leave duplicate artifact entries
    * for its re-published names, which only ever under-prune
    * ([[FileStatsIndex.appendFor]]). Returns the published files.
    */
  def publish(spark: SparkSession, store: Store, t: Table, df: DataFrame, tag: String,
              rows: Option[Long] = None): Seq[String] = {
    val shaped = rows.fold(t.clustered(df))(n => t.clustered(df, shardsFor(n, t.shardRows)))
    val published = publishWith(spark, store, t, tag)(
      t.capped(shaped).mode("overwrite").parquet(_))
    if (t.stats)
      FileStatsIndex.appendFor(spark, t.dir, Seq(t.key), published, schema = Some(df.schema))
    published
  }

  /** Restore the pre-epoch store wherever a `tag` attempt died:
    * complete an interrupted auto-compact FIRST (retiring a tag from
    * half-folded tables would lose a completed epoch's rows — see
    * [[AutoCompact]]), retire the tag's files from every existing
    * table, refresh the `_stats` of each table that lost a file (its
    * entries for the retired files are dead weight in every later
    * prune), and delete the tag's stage. `redo`: the caller publishes
    * the tag again right away (an epoch's retire-and-redo), so the
    * refresh is skipped — the republish re-stats the same names, and
    * an entry left for a name it does not recreate only ever
    * under-prunes ([[FileStatsIndex.appendFor]]).
    */
  def rollback(spark: SparkSession, store: Store, tag: String,
               redo: Boolean = false): Unit = {
    recover(spark, store)
    for (t <- store.tables if EpochFiles.retire(spark, t.dir, tag) && t.stats && !redo)
      FileStatsIndex.update(spark, t.dir, Seq(t.key))
    deleteDir(spark, tagStage(store.root, tag))
  }

  /** `t`'s `_stats` artifact as a keyed delete's pre-prune, decoded on
    * the driver (the artifact is one row per data file — a Spark read
    * would pay an inference and a collect job per delete). None when
    * the table keeps none.
    */
  private def statsOf(spark: SparkSession, t: Table): Option[DataFrame] = {
    val dir = new Path(t.dir, "_stats")
    val conf = spark.sparkContext.hadoopConfiguration
    if (!t.stats || !dir.getFileSystem(conf).exists(dir)) return None
    val cols = Seq("file", s"${t.key}__min", s"${t.key}__max")
    ParquetSource.localRows(conf, dir.toString, cols) match {
      case ParquetSource.LocalRead.Rows(rs) =>
        val schema = KeyedReads.schemaFor(spark, dir.toString)
        Some(spark.createDataFrame(java.util.Arrays.asList(rs: _*),
          org.apache.spark.sql.types.StructType(cols.map(schema(_)))))
      case ParquetSource.LocalRead.ColumnsMissing => None
      case ParquetSource.LocalRead.Unsupported => Some(spark.read.parquet(dir.toString))
    }
  }

  /** Right-to-be-forgotten over one table through the crash-safe
    * targeted rewrite ([[TargetedDelete]]: only files holding a doomed
    * row are rewritten, verify-all-before-any-swap), then a listing
    * refresh and a `_stats` refresh. Two arms:
    *
    *  - keyed (no `pairs`, or `idCol` is the cluster key): delete rows
    *    whose `idCol` is in `ids`; on the cluster key the `_stats`
    *    artifact pre-prunes the candidate files.
    *  - paired: a table clustered on something else cannot prune an id
    *    delete, but the caller can derive the doomed rows as a
    *    `(t.key, c)` pair frame (from a census, a sibling table, a
    *    snapshot) — they pair-delete with files pruned by the cluster
    *    key. `bare` holds ids (column `c`) the caller knows are doomed
    *    but cannot pair; they take the `c` scan. Where `idCol` is not
    *    the key, the pairs and bare ids stand in for the `idCol`
    *    delete; where it is, they delete what the keyed arm cannot
    *    reach (the cross column of an adjacency table).
    *
    * Both frames must be distinct. Past `cap` ids, pairs or bare ids,
    * the paired arm falls back to the `c ∈ ids` scan; `cap` also
    * routes every id delete ([[TargetedDelete.deleteAuto]]), so
    * `cap = 0` drives the scan path everywhere. Same between-epochs
    * caveat as every store rewrite: it renames files, destroying the
    * per-tag names an in-flight epoch's replay would retire.
    */
  def forget(spark: SparkSession, t: Table, idCol: String, ids: Seq[Any],
             pairs: Option[DataFrame] = None, bare: Option[DataFrame] = None,
             cap: Int = TargetedDelete.InlineKeyCap): TargetedDelete.Result = {
    def merge(a: TargetedDelete.Result, b: TargetedDelete.Result) =
      TargetedDelete.Result(a.filesRewritten + b.filesRewritten,
        a.rowsDeleted + b.rowsDeleted, b.filesUntouched)
    def byId(c: String, ks: Seq[Any]) = TargetedDelete.deleteAuto(spark, t.dir, c, ks,
      stats = if (c == t.key) statsOf(spark, t) else None, inlineMaxKeys = cap)
    val keyed =
      if (pairs.isEmpty || idCol == t.key) Some(byId(idCol, ids)) else None
    val paired = pairs.map { p =>
      val c = p.columns(1)
      def scan() = byId(c, ids)
      if (ids.size > cap) scan()
      else {
        val ps = p.limit(cap + 1).collect()
        val bs = bare.fold(Seq.empty[Any])(_.limit(cap + 1).collect().map(_.get(0)).toSeq)
        if (ps.length > cap || bs.size > cap) scan()
        else {
          val pr =
            if (ps.isEmpty) TargetedDelete.Result(0, 0L,
              ParquetSource.listParquetFiles(t.dir, spark.sparkContext.hadoopConfiguration).size)
            else TargetedDelete.deletePairs(spark, t.dir, t.key, c,
              ps.toSeq.map(r => (r.get(0), r.get(1))))
          if (bs.isEmpty) pr else merge(pr, byId(c, bs))
        }
      }
    }
    val r = (keyed ++ paired).reduce(merge)
    spark.catalog.refreshByPath(t.dir)
    // stat the rewritten files, drop the rewritten-away entries
    if (t.stats) FileStatsIndex.update(spark, t.dir, Seq(t.key))
    r
  }

  // ---- streaming sinks ----

  /** A streaming sink's output directory as a one-table store (keyed
    * by `key`, no `_stats`): its per-epoch output stages, publishes
    * ([[publishWith]]) and rolls back ([[rollback]]) under the same
    * discipline as a store's tables.
    */
  def sink(dir: String, key: String): Store = Store(dir, Seq(Table(dir, key, stats = false)))

  private def marker(dir: String, id: Long) = s"$dir/_epochs/$id"

  /** Whether epoch `id` of the streaming sink at `dir` committed. */
  def committed(spark: SparkSession, dir: String, id: Long): Boolean = {
    val m = new Path(marker(dir, id))
    m.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(m)
  }

  /** Commit epoch `id` of the sink at `dir`: its `_epochs/<id>` marker
    * lands atomically ([[writeSmall]]) as the epoch's LAST step, so it
    * exists only if everything before it completed — a replay of a
    * committed epoch is a no-op, anything earlier redoes cleanly.
    */
  def commit(spark: SparkSession, dir: String, id: Long): Unit =
    writeSmall(spark, marker(dir, id), s"""{"epoch":$id}""")

  // ---- small sidecar files (policies, metas, epoch records) ----

  /** Atomic small-file write: the body lands in a hidden `.<name>.tmp`
    * beside `path` and renames over it, so readers see the old or the
    * new body, never a torn one.
    */
  def writeSmall(spark: SparkSession, path: String, body: String): Unit =
    writeSmall(spark.sparkContext.hadoopConfiguration, new Path(path), body)

  def writeSmall(conf: org.apache.hadoop.conf.Configuration, dst: Path, body: String): Unit = {
    val fs = dst.getFileSystem(conf)
    require(fs.mkdirs(dst.getParent) || fs.exists(dst.getParent),
      s"cannot create ${dst.getParent}")
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"atomic write failed for $dst")
  }

  def readSmall(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** An integer field of a flat JSON sidecar, when present. */
  def metaField(spark: SparkSession, path: String, field: String): Option[Long] =
    readSmall(spark, path).flatMap(b =>
      ("\"" + field + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(b).map(_.group(1).toLong))

  /** Default file-granularity policy of the stores that pin one. */
  val DefaultRowsPerFile = 4000000L

  /** A store's file-granularity policy (rows per file) pinned in its
    * meta sidecar at create time: every write splits output at this
    * many rows per file under the range sort, so a keyed probe's
    * swept-in bytes are bounded by the granularity instead of growing
    * with the corpus. Pre-policy sidecars keep [[DefaultRowsPerFile]].
    */
  def rowsPerFileOf(spark: SparkSession, metaPath: String): Long =
    metaField(spark, metaPath, "rowsPerFile").getOrElse(DefaultRowsPerFile)
}
