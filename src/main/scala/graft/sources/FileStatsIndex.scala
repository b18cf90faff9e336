package graft.sources

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnPath, ParquetMetadata}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{ColumnOrder, LogicalTypeAnnotation, MessageType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** File-level min/max statistics index + pre-scan pruning — the
  * data-skipping layer table formats (Iceberg manifests, Delta
  * add-file stats) put between the catalog and the scan, expressed
  * portably over a plain parquet directory. At 100 TB a scan that
  * must OPEN every file to check its row-group stats still pays a
  * metadata round trip per file (hundreds of thousands of S3 GETs);
  * a stats index reduces predicate evaluation to ONE |files|-row
  * frame, and only surviving files reach the reader at all.
  *
  * Reference analog: the skip-file sets + S3-export manifest stats
  * (`DdbExportSource` feeds manifest sizes to the optimizer;
  * migrator skipped-file resume, SURVEY §2.4) — generalized to
  * content statistics over any parquet layout.
  *
  * Build reads each file's parquet footer on the driver — the same
  * place the listing already reads every file's status — and folds its
  * row-group statistics into the file's row: row count, min, max and
  * null count per column (the file statistics Delta keeps as metadata).
  * Driver-side footer reads scale like the listing itself (one small
  * read per file; |files| is driver-sized in any Spark scan). Footer
  * versus scan: integral, date, boolean, decimal and default-collation
  * string columns fold when every chunk carries exact bounds; files
  * with float/double columns (parquet-mr's NaN and ±0 bounds differ
  * from Spark's min/max), binary bounds dropped at write time (over
  * 4 KiB), INT96 or other types go through ONE Spark aggregation by
  * `input_file_name()` over just those files. Either way the row is the
  * aggregation's, value for value; an empty file gets `n_rows = 0` and
  * null bounds. Build right after the write (see `target.statsIndex` in
  * PipelineConfig). The artifact is itself parquet: `file, n_rows,
  * <c>__min, <c>__max, <c>__nulls` per indexed column.
  *
  * Pruning contract (conservative, never wrong):
  *  - a file is kept unless its stats PROVE no row can match;
  *  - files present on disk but absent from the index are ALWAYS kept
  *    (data added after the build must never be silently dropped);
  *  - the residual predicate is still applied after the pruned read —
  *    skipping is an optimization, filtering stays exact.
  *
  * Tight min/max ranges require value-clustered files: write with
  * `sortBy`/`globalSortBy` (see TargetConfig) or z-order for
  * multi-column predicates — the layout and the index are the two
  * halves of one design.
  */
object FileStatsIndex {

  /** Predicates the index can evaluate against [min, max] ranges.
    * Bounds are inclusive; values must be of (or castable to) the
    * indexed column's type — comparisons use Spark's own ordering on
    * that type, the same ordering that produced the stats.
    */
  sealed trait StatsPredicate { def column: String }
  final case class Between(column: String, lo: Any, hi: Any) extends StatsPredicate
  final case class Eq(column: String, v: Any) extends StatsPredicate
  final case class Lte(column: String, hi: Any) extends StatsPredicate
  final case class Gte(column: String, lo: Any) extends StatsPredicate
  final case class IsNull(column: String) extends StatsPredicate

  /** Build the stats artifact for `columns` over every parquet file
    * under `dir`: footers folded on the driver, plus one aggregation
    * over just the files whose footers cannot answer.
    */
  def build(spark: SparkSession, dir: String, columns: Seq[String],
            schema: Option[StructType] = None): DataFrame = {
    require(columns.nonEmpty, "index at least one column")
    // builders that just wrote the table pass its schema (a schema-less
    // read pays a footer-inference job); others resolve through the
    // signature cache / embedded-footer path — also zero jobs for
    // Spark-written dirs
    fileStats(spark, ParquetSource.listParquetStatuses(dir, spark.sparkContext.hadoopConfiguration),
      columns, schema.getOrElse(KeyedReads.schemaFor(spark, dir)))
  }

  /** The artifact's rows for `files`: `file, n_rows` and `<c>__min,
    * <c>__max, <c>__nulls` per column, one row per file — a file
    * without rows gets `n_rows = 0`, null bounds and no nulls, the
    * "empty file" every prune skips. A file whose footer holds exact
    * bounds for every column ([[footerRow]]) is folded on the driver;
    * the rest go through one aggregation by `input_file_name()`, whose
    * rows the fold reproduces value for value.
    */
  private def fileStats(spark: SparkSession, files: Seq[FileStatus], columns: Seq[String],
                        schema: StructType): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val folded = files.map(st =>
      st -> footerRow(ParquetSource.footerMeta(conf, st), st, columns, schema))
    val scan = folded.collect { case (st, None) => st.getPath.toString }
    // the aggregation's own schema, from analysis alone
    val statsSchema = scanStats(
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema), columns).schema
    val local = spark.createDataFrame(folded.flatMap(_._2).asJava, statsSchema)
    if (scan.isEmpty) local
    else local.union(scanStats(spark.read.schema(schema).parquet(scan: _*), columns))
  }

  /** The aggregation over rows: one group per file with rows. */
  private def scanStats(df: DataFrame, columns: Seq[String]): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), columns.flatMap { c =>
        Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"))
      }: _*)

  /** First Gregorian day (1582-10-15): dates from here on read the same
    * under every calendar-rebase mode.
    */
  private val GregorianSwitchDay = -141427

  /** One file's artifact row from its footer alone, or None when the
    * footer cannot give Spark's exact `min`/`max`/null count for every
    * column. Eligible: top-level integral, date, boolean, decimal and
    * default-collation string columns stored as Spark writes them, with
    * every row group's chunk carrying its null count and — when it
    * holds a value — its bounds. Left to the aggregation: float and
    * double (parquet-mr's NaN and ±0 bounds differ from Spark's
    * min/max), columns without exact bounds (binary bounds over 4 KiB
    * are dropped at write time; INT96 carries none), other types, and
    * pre-Gregorian dates in a file that Spark rebases on read.
    */
  private def footerRow(meta: ParquetMetadata, st: FileStatus, columns: Seq[String],
                        schema: StructType): Option[Row] = {
    val blocks = meta.getBlocks.asScala.toSeq
    val file = meta.getFileMetaData
    val kv = file.getKeyValueMetaData
    val rebased = !Option(kv.get("org.apache.spark.version")).exists(_ >= "3.0.0") ||
      kv.containsKey("org.apache.spark.legacyDateTime")
    val cells = columns.map { c =>
      schema.find(_.name == c).flatMap(f => columnBounds(blocks, file.getSchema, c, f.dataType))
        .filter {
          case (lo: java.time.LocalDate, _, _) => !rebased || lo.toEpochDay >= GregorianSwitchDay
          case _ => true
        }
    }
    if (cells.exists(_.isEmpty)) None
    else Some(Row.fromSeq(SparkPath.fromFileStatus(st).urlEncoded +:
      blocks.map(_.getRowCount).sum +: cells.flatten.flatMap { case (lo, hi, n) => Seq(lo, hi, n) }))
  }

  /** (min, max, null count) of column `c` over the row groups, as
    * Spark values of type `dt` — bounds null when no value is set.
    */
  private def columnBounds(blocks: Seq[BlockMetaData], ms: MessageType, c: String,
                           dt: DataType): Option[(Any, Any, Long)] = {
    import PrimitiveTypeName._
    if (!ms.containsField(c)) return None
    val t = ms.getType(ms.getFieldIndex(c))
    if (!t.isPrimitive || t.isRepetition(Type.Repetition.REPEATED)) return None
    val pt = t.asPrimitiveType
    val ann = pt.getLogicalTypeAnnotation
    def int(bits: Int, bare: Boolean) = ann match {
      case null => bare
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
        i.isSigned && i.getBitWidth == bits
      case _ => false
    }
    def unscaled(v: Any): java.math.BigInteger = v match {
      case i: java.lang.Integer => java.math.BigInteger.valueOf(i.longValue)
      case l: java.lang.Long => java.math.BigInteger.valueOf(l)
      case b: Binary => new java.math.BigInteger(b.getBytes)
    }
    val decode: Option[Any => Any] = (dt, pt.getPrimitiveTypeName, ann) match {
      case (ByteType, INT32, _) if int(8, bare = false) =>
        Some(v => v.asInstanceOf[java.lang.Integer].toByte)
      case (ShortType, INT32, _) if int(16, bare = false) =>
        Some(v => v.asInstanceOf[java.lang.Integer].toShort)
      case (IntegerType, INT32, _) if int(32, bare = true) => Some(identity)
      case (LongType, INT64, _) if int(64, bare = true) => Some(identity)
      case (DateType, INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
        Some(v => java.time.LocalDate.ofEpochDay(v.asInstanceOf[java.lang.Integer].longValue))
      case (BooleanType, BOOLEAN, null) => Some(identity)
      case (d: DecimalType, INT32 | INT64 | FIXED_LEN_BYTE_ARRAY | BINARY,
            a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation)
          if a.getPrecision == d.precision && a.getScale == d.scale =>
        Some(v => new java.math.BigDecimal(unscaled(v), d.scale))
      case (s: StringType, BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation)
          if s.collationId == StringType.collationId &&
            pt.columnOrder.getColumnOrderName == ColumnOrder.ColumnOrderName.TYPE_DEFINED_ORDER =>
        Some(v => v.asInstanceOf[Binary].toStringUsingUTF8)
      case _ => None
    }
    val path = ColumnPath.get(c)
    val chunks = blocks.map(_.getColumns.asScala.find(_.getPath == path))
    decode.filter(_ => chunks.forall(_.exists { ch =>
      val s = ch.getStatistics
      s != null && !s.isEmpty && s.isNumNullsSet &&
        (s.hasNonNullValue || s.getNumNulls == ch.getValueCount)
    })).map { f =>
      val stats = chunks.flatten.map(_.getStatistics)
      val set = stats.filter(_.hasNonNullValue)
      val nulls = stats.map(_.getNumNulls).sum
      if (set.isEmpty) (null, null, nulls)
      else {
        val ord = Ordering.comparatorToOrdering(
          set.head.comparator.asInstanceOf[java.util.Comparator[Any]])
        (f(set.map(s => s.genericGetMin: Any).min(ord)),
          f(set.map(s => s.genericGetMax: Any).max(ord)), nulls)
      }
    }
  }

  /** Build and persist next to the data (`<dir>/_stats`) — underscore
    * prefix keeps every parquet reader from picking it up as data.
    */
  def buildAndSave(spark: SparkSession, dir: String, columns: Seq[String],
                   schema: Option[StructType] = None): String = {
    val path = new org.apache.hadoop.fs.Path(dir, "_stats").toString
    // ONE artifact file: the frame is |files| rows (driver-sized by the
    // same argument as any FileIndex), but the groupBy's 32 shuffle
    // partitions would otherwise scatter it across 32 tiny parts — and
    // every stats-pruned point read re-opens the artifact, so its own
    // footer count is a per-probe metadata tax paid store-wide
    build(spark, dir, columns, schema).coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  /** Can a file with these stats contain a matching row? NULL stats
    * (empty or all-null file) prove non-match for range predicates —
    * `<=>`-free SQL comparison semantics make that fall out naturally
    * here because we test the POSITIVE condition and keep on TRUE only
    * when provable... inverted: we DROP only when provably empty, so
    * the survive condition must be null-tolerant the other way. The
    * expressions below evaluate to false/null on all-null stats for
    * range predicates (drop — correct: no non-null value exists) and
    * use the null count for IsNull.
    */
  private def mightMatch(p: StatsPredicate): Column = p match {
    case Between(c, lo, hi) => col(s"${c}__max") >= lit(lo) && col(s"${c}__min") <= lit(hi)
    case Eq(c, v) => col(s"${c}__max") >= lit(v) && col(s"${c}__min") <= lit(v)
    case Lte(c, hi) => col(s"${c}__min") <= lit(hi)
    case Gte(c, lo) => col(s"${c}__max") >= lit(lo)
    case IsNull(c) => col(s"${c}__nulls") > lit(0L)
  }

  /** Files under `dir` that might satisfy ALL of `predicates`
    * (conjunction), plus every on-disk file the index doesn't know.
    * The returned list is driver-resident — file lists are
    * driver-sized in any Spark scan (FileIndex), this adds no new
    * scaling assumption.
    */
  def survivingFiles(spark: SparkSession, dir: String, stats: DataFrame,
                     predicates: Seq[StatsPredicate]): Seq[String] = {
    predicates.foreach { p =>
      val needed = p match {
        case _: IsNull => s"${p.column}__nulls"
        case _ => s"${p.column}__min"
      }
      require(stats.columns.contains(needed),
        s"column ${p.column} is not in the stats index")
    }
    val keep = predicates.map(mightMatch).reduceOption(_ && _).getOrElse(lit(true))
    val known = stats.select(col("file"), keep.as("__keep")).collect()
    val keepSet = known.filter(r => !r.isNullAt(1) && r.getBoolean(1))
      .map(r => pathOf(r.getString(0))).toSet
    val knownSet = known.map(r => pathOf(r.getString(0))).toSet
    // on-disk listing: anything the index has never seen stays in.
    // listParquetFiles already excludes _/.-prefixed metadata BELOW the
    // table root (the _stats dir itself, markers, temp files); the root
    // may legitimately sit under an underscore parent (e.g. the id
    // census at <store>/_ids/rows), so no whole-path segment filter
    val all = ParquetSource
      .listParquetFiles(dir, spark.sparkContext.hadoopConfiguration)
    all.filter(f => !knownSet.contains(pathOf(f)) || keepSet.contains(pathOf(f)))
  }

  // input_file_name() yields URIs (file:///...), listings may carry
  // scheme-qualified or plain paths — compare on the path component
  private def pathOf(file: String): String =
    new org.apache.hadoop.fs.Path(file).toUri.getPath

  /** Read only the files that might match, then apply `residual`
    * exactly. An empty survivor set returns an empty frame with the
    * directory's schema.
    */
  def readPruned(spark: SparkSession, dir: String, stats: DataFrame,
                 predicates: Seq[StatsPredicate], residual: Column): DataFrame = {
    val files = survivingFiles(spark, dir, stats, predicates)
    // signature-cached / embedded-footer schema: an explicit file list
    // would otherwise pay a footer-inference job per read
    val reader = spark.read.schema(KeyedReads.schemaFor(spark, dir))
    val base =
      if (files.isEmpty) reader.parquet(dir).filter(lit(false))
      else reader.parquet(files: _*)
    base.filter(residual)
  }

  /** Conservative stats predicates extracted from a Catalyst filter
    * condition: top-level AND conjuncts of `col (=|<|<=|>|>=) literal`
    * (either operand order) and `col IS NULL` over indexed columns.
    * Anything else — ORs, functions, casts, unindexed columns —
    * contributes NOTHING (never a wrong prune): strict inequalities
    * relax to their inclusive bound, unrecognized conjuncts drop. The
    * residual filter always re-applies the FULL condition, so this is
    * purely an optimization surface.
    */
  def fromCondition(e: org.apache.spark.sql.catalyst.expressions.Expression,
                    indexed: Set[String]): Seq[StatsPredicate] = {
    import org.apache.spark.sql.catalyst.expressions.{IsNull => SqlIsNull, Literal => Lit, _}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    def colName(x: Expression): Option[String] = x match {
      case a: AttributeReference if indexed(a.name) => Some(a.name)
      case u: UnresolvedAttribute if u.nameParts.size == 1 && indexed(u.name) => Some(u.name)
      case _ => None
    }
    def value(x: Expression): Option[Any] = x match {
      case l @ Lit(v, dt) if v != null =>
        Some(CatalystTypeConverters.convertToScala(v, dt))
      case _ => None
    }
    def cmp(a: Expression, b: Expression,
            mk: (String, Any) => StatsPredicate): Seq[StatsPredicate] =
      (colName(a), value(b)) match {
        case (Some(c), Some(v)) => Seq(mk(c, v))
        case _ => Seq.empty
      }
    e match {
      case And(l, r) => fromCondition(l, indexed) ++ fromCondition(r, indexed)
      case EqualTo(a, b) => cmp(a, b, Eq(_, _)) ++ cmp(b, a, Eq(_, _))
      case LessThanOrEqual(a, b) => cmp(a, b, Lte(_, _)) ++ cmp(b, a, Gte(_, _))
      case LessThan(a, b) => cmp(a, b, Lte(_, _)) ++ cmp(b, a, Gte(_, _))
      case GreaterThanOrEqual(a, b) => cmp(a, b, Gte(_, _)) ++ cmp(b, a, Lte(_, _))
      case GreaterThan(a, b) => cmp(a, b, Gte(_, _)) ++ cmp(b, a, Lte(_, _))
      case SqlIsNull(a) =>
        colName(a).map(IsNull(_)).toSeq
      case _ => Seq.empty
    }
  }

  /** Prune an explicit file list against the directory's `_stats`
    * artifact, deriving predicates from the ACTUAL filter condition —
    * the auto-skip path Pipeline.read uses. No artifact, no extractable
    * predicate, or no surviving evidence needed → the list passes
    * through untouched; files unknown to the index always stay.
    */
  def autoPrune(spark: SparkSession, dir: String, files: Seq[String],
                condition: Option[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[String] = {
    val statsPath = new org.apache.hadoop.fs.Path(dir, "_stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (condition.isEmpty || !fs.exists(statsPath)) return files
    val stats = spark.read.parquet(statsPath.toString)
    val indexed = stats.columns.collect {
      case c if c.endsWith("__min") => c.stripSuffix("__min")
    }.toSet
    val preds = fromCondition(condition.get, indexed)
    if (preds.isEmpty) return files
    val keep = preds.map(mightMatch).reduce(_ && _)
    val known = stats.select(col("file"), keep.as("__keep")).collect()
    val keepSet = known.filter(r => !r.isNullAt(1) && r.getBoolean(1))
      .map(r => pathOf(r.getString(0))).toSet
    val knownSet = known.map(r => pathOf(r.getString(0))).toSet
    files.filter(f => !knownSet.contains(pathOf(f)) || keepSet.contains(pathOf(f)))
  }

  /** Advance the artifact over files the CALLER already knows are new
    * (an epoch publish returns its published names, an append can diff
    * two listings) — their footers folded (or scanned, see the object
    * doc), appended to
    * the artifact in place. This is the write-pass stats discipline:
    * where [[update]] pays an artifact read + listing diff + full
    * rewrite per call (3+ jobs), this is one appended parquet part, so per-epoch maintenance cost follows the
    * EPOCH, not the artifact. Trade: entries for since-removed files
    * and duplicate entries for a replayed tag's re-published names can
    * accumulate until the next [[update]]/[[buildAndSave]] (compact /
    * recluster / forget all run one) — both are safe by construction
    * (pruning intersects with the on-disk listing and keeps a file if
    * ANY of its entries might match), they only ever under-prune.
    * A missing artifact falls back to a full [[buildAndSave]].
    */
  def appendFor(spark: SparkSession, dir: String, columns: Seq[String],
                newFiles: Seq[String],
                schema: Option[StructType] = None): String = {
    val statsPath = new org.apache.hadoop.fs.Path(dir, "_stats").toString
    val fs = new org.apache.hadoop.fs.Path(statsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(statsPath)))
      return buildAndSave(spark, dir, columns)
    if (newFiles.isEmpty) return statsPath
    // writers that KNOW the written frame's schema pass it (a schema-
    // less read pays a footer-inference job per publish); others fall
    // back to the signature-cached table schema
    fileStats(spark, newFiles.map(f => fs.getFileStatus(fs.makeQualified(new org.apache.hadoop.fs.Path(f)))),
        columns, schema.getOrElse(KeyedReads.schemaFor(spark, dir)))
      .coalesce(1)
      .write.mode("append").parquet(statsPath)
    statsPath
  }

  /** Incremental maintenance: stat ONLY the data files the artifact
    * has never seen and append them — the build never rescans indexed
    * files (at warehouse scale a day's append costs a day's scan, not
    * the table's). Every fresh file gets an entry, an empty one (a
    * wholly deleted file's replacement) included, so it does not stay
    * fresh and force a rewrite on every later call. The known-file list is decoded on the
    * driver, so an update with nothing new or stale runs no Spark job;
    * a missing artifact falls back to a full [[buildAndSave]].
    */
  def update(spark: SparkSession, dir: String, columns: Seq[String]): String = {
    val statsPath = new org.apache.hadoop.fs.Path(dir, "_stats").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(statsPath).getFileSystem(conf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(statsPath)))
      return buildAndSave(spark, dir, columns)
    val knownRaw = ParquetSource.localRows(conf, statsPath, Seq("file")) match {
      case ParquetSource.LocalRead.Rows(rs) => rs.map(_.getString(0))
      case _ => spark.read.parquet(statsPath).select("file").collect().map(_.getString(0))
    }
    val onDisk = ParquetSource.listParquetStatuses(dir, conf)
    val diskSet = onDisk.map(st => pathOf(st.getPath.toString)).toSet
    val known = knownRaw.map(pathOf).toSet
    val fresh = onDisk.filterNot(st => known.contains(pathOf(st.getPath.toString)))
    // entries for files compaction/cleanup removed are dead weight —
    // drop them while we're rewriting anyway
    val stale = knownRaw.filterNot(f => diskSet.contains(pathOf(f)))
    if (fresh.isEmpty && stale.isEmpty) return statsPath
    val existing = spark.read.parquet(statsPath)
    val live =
      if (stale.isEmpty) existing
      else existing.filter(!col("file").isin(stale.toIndexedSeq: _*))
    val merged = live.unionByName(
      fileStats(spark, fresh, columns, KeyedReads.schemaFor(spark, dir)))
    // materialize before overwriting the artifact being read; one file
    // (see buildAndSave — the artifact's own footer count is a
    // per-probe metadata tax)
    merged.localCheckpoint(true).coalesce(1)
      .write.mode("overwrite").parquet(statsPath)
    statsPath
  }
}
